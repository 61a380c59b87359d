"""The two workloads. Each one generates its inputs from the seed, runs
fixtures once, then runs passes; an op's latency covers its plan build
and its sink (a ``noop`` write for registry entries, a driver collect
for reads).

- ``analytics``: Tier R + Tier S registry entries over the seeded star
  schema (frame, relational and sketch layers), Tier X curation entries
  over its corpus, which has fixed duplicate shares (dedup, similarity,
  textstats and pipeline layers), and direct calls into the summary,
  stats, sampling, curation, graph and ann_index layers
  (``entries.py``).
- ``lakehouse``: ingest batches deduped against a MinHash index,
  appended, hit by point DML, read latest and by time travel, summarised
  by a materialized view and tailed by a streaming consumer.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

import entries
import gen
import oracle


class Registry:
    """Closed loop over ``__spark_entry__.queries()`` entries and the
    local ones of ``entries.py``; the warm-up pass collects every output
    for the oracle check. Each op's latency is its build (the entry
    call, with any eager jobs) plus its sink; the build part is kept
    apart in ``build_s``."""

    ENTRIES: list[str] = []
    KIND = "query"

    def __init__(self, h):
        self.h = h
        self.outputs: dict[str, tuple[list, list]] = {}
        self.rows_per_pass = 0
        self.build_s: dict[tuple[int, str], float] = {}

    def generate(self, seed: int, data_dir: str) -> dict:
        raise NotImplementedError

    def setup(self) -> None:
        import __spark_entry__
        self.queries = {**__spark_entry__.queries(), **entries.LOCAL}

    def _build(self, name: str):
        t0 = time.perf_counter()
        df = self.queries[name](self.h.spark, self.h.data_dir)
        self.build_s[(self.h.pass_id, name)] = time.perf_counter() - t0
        return df

    def warmup(self) -> None:
        for name in self.ENTRIES:
            def collect(name=name):
                df = self._build(name)
                self.outputs[name] = (df.columns,
                                      [tuple(r) for r in df.collect()])
            self.h.timed(self.KIND, name, collect)
            self.h.spark.catalog.clearCache()

    def run_pass(self) -> None:
        for name in self.ENTRIES:
            def sink(name=name):
                self._build(name).write.mode("overwrite") \
                    .format("noop").save()
            self.h.timed(self.KIND, name, sink)
            self.h.spark.catalog.clearCache()

    def check(self) -> list[str]:
        import __spark_entry__
        sqls = {**__spark_entry__.oracle_sql(), **entries.ORACLE_SQL}
        con = oracle.connect(self.h.data_dir)
        bad = []
        try:
            for name in self.ENTRIES:
                if name not in self.outputs:
                    continue           # failed op: counted as failed
                cols, rows = self.outputs[name]
                if name in entries.CHECKS:
                    why = entries.CHECKS[name](cols, rows,
                                               self.h.data_dir)
                else:
                    why = oracle.mismatch(cols, rows,
                                          *oracle.query(con, sqls[name]))
                if why:
                    bad.append(f"{name}: {why}")
        finally:
            con.close()
        return bad

    def finish(self) -> None:
        pass

    def trace_started(self) -> None:
        pass

    def trace_stopped(self) -> None:
        pass

    def extra_metrics(self, samples) -> dict:
        """The share of op wall spent building plans (entry calls),
        against the sinks that execute them."""
        build = sum(self.build_s.get((s.pass_id, s.name), 0.0)
                    for s in samples)
        wall = sum(s.seconds for s in samples)
        return {"build_share": (build / wall if wall else 0.0, "ratio",
                                len(samples))}

    def layer_metrics(self, tracer, passes: set[int]) -> dict:
        return {}


class Analytics(Registry):
    """Tier R + S kernel and relational entries on the star schema,
    Tier X curation entries on its corpus and the local layer entries,
    in one pass."""

    #: entries, each followed by the layer it mainly exercises
    ENTRIES = [
        "r_slice_mask",             # frame
        "r_map_mutate",             # frame
        "s_join_agg",               # relational
        "s_approx_sketches",        # sketch
        "summary_histogram",        # summary
        "stats_top_frequent",       # stats
        "x_embed_neardup",          # dedup, similarity
        "x_pipeline_filter",        # pipeline, textstats, dedup
        "sampling_hash",            # sampling
        "curation_blocklist",       # curation, textstats
        "graph_triangles",          # graph
        "ann_query",                # ann_index
    ]
    #: Measured on a 4-core host, the share of warm op wall spent in the
    #: entry calls (plan build) against the sinks that execute the plans
    #: is 0.43 at 60k rows, 0.39 at 120k (median of ten seeds), 0.36 at
    #: 240k and 0.31 at 600k, while a warm pass stays at 10-13 s:
    #: execution outweighs plan build at every size. What grows is the
    #: cost of collecting and checking outputs (r_map_mutate returns 1.2
    #: rows per lineitem): a run took 52 s at 120k, 63 s at 240k and
    #: 87 s at 600k, and the benchmark's 48 runs must end within 3420 s.
    LINEITEMS = 120_000

    def generate(self, seed, data_dir):
        rows = gen.star_schema(seed, data_dir, lineitems=self.LINEITEMS)
        self.rows_per_pass = sum(rows.values())
        return rows

    def setup(self) -> None:
        super().setup()
        entries.ann_build(self.h.spark, self.h.data_dir)


class Lakehouse:
    """One pass is one ingest cycle: dedup, append, delete, merge, a
    predicated latest read, a time-travel read, a view refresh and an
    optimize."""

    NUM_HASHES, BANDS = 32, 8
    BATCH_ROWS = gen.LAKE_BATCH_ROWS
    STATS_COLS = ["id", "ts"]

    def __init__(self, h):
        self.h = h
        self.rng = None
        self.log: list[dict] = []       # committed ops, in order
        self.reads: list[dict] = []     # read results to replay
        self.freshness: list[tuple[int, float]] = []  # (pass, seconds)
        self.dedup_bad: list[str] = []
        self.indexed_texts: set[str] = set()
        self.refreshes: list[dict] = []
        self.progress: list[tuple[int, dict]] = []    # (pass, progress)
        self.cycle = 0
        self.rows_per_pass = self.BATCH_ROWS

    # -- inputs ---------------------------------------------------------
    def generate(self, seed, data_dir):
        self.seed = seed
        return gen.lake_batches(seed, data_dir)

    def _paths(self):
        root = os.path.join(self.h.work_dir, "lakehouse")
        return {k: os.path.join(root, k) for k in
                ("table", "index", "view", "sink", "ckpt", "src")}

    # -- fixtures ------------------------------------------------------
    def load_inputs(self):
        """Empty working directories, the op rng, and the lake files
        as arrow tables and as rows by id."""
        self.p = self._paths()
        for d in self.p.values():
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.p["src"])
        self.rng = random.Random(self.seed)
        lake = os.path.join(self.h.data_dir, "lake")
        self.arrow = {}
        for f in sorted(os.listdir(lake)):
            self.arrow[f[:-len(".parquet")]] = pq.read_table(
                os.path.join(lake, f))
        self.by_id = {}
        for t in self.arrow.values():
            for r in t.to_pylist():
                self.by_id[r["id"]] = r
        self.live: list[int] = []

    def setup(self):
        from cl_data_frame_spark.operators import matview
        from cl_data_frame_spark.sources import snapshots
        spark = self.h.spark
        self.load_inputs()
        lake = os.path.join(self.h.data_dir, "lake")
        base = spark.read.parquet(os.path.join(lake, "base.parquet"))
        ids = sorted(self.arrow["base"]["id"].to_pylist())
        v = snapshots.snapshot_write(base, self.p["table"],
                                     mode="overwrite",
                                     stats_cols=self.STATS_COLS)
        self._logged({"op": "create", "ids": ids}, v)
        matview.matview_create(spark, self.p["table"], self.p["view"],
                               keys=["kind"], measure_cols=["value"])

    def _stream(self):
        """The consumer: the table's change feed, inserts only, as a
        windowed aggregate landing in a snapshot table each batch. It is
        built anew for each run of the consumer, so that a traced run
        sees the streaming calls; the batch function runs on Spark's
        stream thread and is traced there as a streaming call of its
        own."""
        from pyspark.sql import functions as F
        from cl_data_frame_spark import streaming
        from cl_data_frame_spark.streaming.snapshot_source import (
            read_stream_snapshot)
        src = read_stream_snapshot(self.h.spark, self.p["table"],
                                   read_change_feed=True)
        agg = (src.where(F.col("_change_type") == "insert")
               .groupBy(F.window("ts", "1 day"), "kind")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("value").alias("value")))
        sink = streaming.snapshot_stream_sink(self.p["sink"], "perfbench",
                                              mode="complete")
        if self.h.tracer is not None:
            sink = self.h.tracer.wrap("streaming",
                                      "snapshot_stream_sink.batch", sink)
        return (agg.writeStream.foreachBatch(sink)
                .outputMode("complete")
                .option("checkpointLocation", self.p["ckpt"])
                .trigger(availableNow=True))

    def _consume(self) -> bool:
        """Run the consumer over every committed version, to the end."""
        q = self._stream().start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
        self.progress += [(self.h.pass_id, json.loads(p.json))
                          for p in q.recentProgress]
        return True

    # -- ops -----------------------------------------------------------
    def _logged(self, entry: dict, version: int) -> None:
        entry["version"] = int(version)
        entry["pass"] = self.h.pass_id
        self.log.append(entry)
        self.version = int(version)
        ids = entry.get("ids")
        if entry["op"] in ("create", "append"):
            self.live.extend(ids)
        elif entry["op"] == "delete":
            gone = set(ids)
            self.live = [i for i in self.live if i not in gone]
        elif entry["op"] == "merge":
            have = set(self.live)
            self.live.extend(i for i in entry["ids"] if i not in have)

    def _dedup(self, batch_df, label: str) -> list[int]:
        """Flag near duplicates against the index; returns novel ids and
        records any exact repeat of an indexed text left unflagged."""
        from cl_data_frame_spark.operators import incremental
        flags = incremental.minhash_index_update(
            self.h.spark, self.p["index"], batch_df.select("id", "text"),
            id_col="id", num_hashes=self.NUM_HASHES,
            bands=self.BANDS).spark_df.collect()
        dup = {r["id"] for r in flags if r["is_duplicate"]}
        novel = []
        for r in sorted(r["id"] for r in flags):
            text = self.by_id[r]["text"]
            if r in dup:
                continue
            if text in self.indexed_texts:
                self.dedup_bad.append(f"{label}: id {r} repeats an "
                                      "indexed text but was kept")
            self.indexed_texts.add(text)
            novel.append(r)
        return novel

    def run_pass(self):
        from pyspark.sql import functions as F
        from cl_data_frame_spark.frame import SparkFrame
        from cl_data_frame_spark.operators import matview
        from cl_data_frame_spark.sources import snapshots
        h, spark, p, rng = self.h, self.h.spark, self.p, self.rng
        name = f"batch_{self.cycle:03d}"
        if name not in self.arrow:
            raise RuntimeError(f"lakehouse inputs exhausted at {name}")
        self.cycle += 1
        path = os.path.join(self.h.data_dir, "lake", f"{name}.parquet")
        batch = spark.read.parquet(path)
        novel = h.timed("dedup", "dedup",
                        lambda: self._dedup(batch, name))
        if novel is None:
            return

        def commit(op, fn, entry):
            v = h.timed("commit", op, fn)
            if v is not None:
                self._logged(entry, v)
            return v

        appended = commit("append", lambda: snapshots.snapshot_write(
            batch.where(batch.id.isin(novel)), p["table"], mode="append",
            stats_cols=self.STATS_COLS), {"op": "append", "ids": novel,
                                          "path": path})
        # freshness: from the append's return until the consumer's sink
        # holds its rows
        t0 = time.perf_counter()
        if h.timed("stream", "consume", self._consume) \
                and appended is not None:
            self.freshness.append((h.pass_id, time.perf_counter() - t0))
        gone = sorted(rng.sample(self.live, 3))
        commit("delete", lambda: snapshots.snapshot_delete(
            spark, p["table"], [("id", "in", gone)]),
            {"op": "delete", "ids": gone})
        src_path = self._merge_source(name)
        src_ids = pq.read_table(src_path, columns=["id"])["id"] \
            .to_pylist()
        commit("merge", lambda: snapshots.snapshot_merge(
            spark, p["table"], SparkFrame(spark.read.parquet(src_path)),
            on="id"), {"op": "merge", "ids": src_ids, "path": src_path})

        def agg(df):
            r = df.agg(F.count(F.lit(1)).alias("n"),
                       F.sum("value").alias("s")).collect()[0]
            return int(r["n"]), float(r["s"] or 0.0)

        # the previous batch's id range: a few files of the latest version
        lo = max(0, min(novel, default=0) - self.BATCH_ROWS)
        hi = lo + self.BATCH_ROWS
        version = self.version
        got = h.timed("read", "read_latest", lambda: agg(
            snapshots.snapshot_read(
                spark, p["table"],
                where=[("id", ">=", lo), ("id", "<", hi)]).spark_df))
        if got is not None:
            self.reads.append({"version": version, "lo": lo, "hi": hi,
                               "got": got, "pass": h.pass_id})
        old = max(self.log[0]["version"], self.version - 20)
        got = h.timed("read", "read_travel", lambda: agg(
            snapshots.snapshot_read(spark, p["table"],
                                    version=old).spark_df))
        if got is not None:
            self.reads.append({"version": old, "lo": None, "hi": None,
                               "got": got, "pass": h.pass_id})
        summary = h.timed("refresh", "refresh",
                          lambda: matview.matview_refresh(spark, p["view"]))
        if summary is not None:
            self.refreshes.append({**summary, "pass": h.pass_id})
        commit("optimize", lambda: snapshots.snapshot_optimize(
            spark, p["table"]), {"op": "optimize", "ids": []})

    def _merge_source(self, name: str) -> str:
        """Two live ids with new values plus three new rows; the new
        rows join ``by_id``, so later cycles may update or copy them."""
        rows = []
        for i in sorted(self.rng.sample(self.live, 2)):
            r = dict(self.by_id[i])
            r["value"] = round(r["value"] * 2 + 0.5, 2)
            rows.append(r)
        for k in range(3):
            r = dict(self.by_id[self.rng.choice(self.live)])
            r["id"] = 1_000_000 + 3 * self.cycle + k
            self.by_id[r["id"]] = r
            rows.append(r)
        path = os.path.join(self.p["src"], f"{name}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, gen.LAKE_SCHEMA), path)
        return path

    def warmup(self):
        self.run_pass()

    # -- results -------------------------------------------------------
    def finish(self):
        """Measure the storage the run left."""
        self.amp = self.write_amp()

    def extra_metrics(self, samples) -> dict:
        from run import percentile
        out = {}
        for kind in ("commit", "read"):
            lat = [s.seconds for s in samples if s.kind == kind]
            out[f"{kind}_p50_s"] = (percentile(lat, 0.5), "s", len(lat))
            out[f"{kind}_p90_s"] = (percentile(lat, 0.9), "s", len(lat))
        ids = {s.pass_id for s in samples}
        fresh = [f for pid, f in self.freshness if pid in ids]
        out["freshness_p50_s"] = (percentile(fresh, 0.5), "s", len(fresh))
        out["freshness_p90_s"] = (percentile(fresh, 0.9), "s", len(fresh))
        out["write_amp"] = (self.amp, "ratio", 1)
        self.e2e = out
        return out

    def trace_started(self) -> None:
        from cl_data_frame_spark.sources import snapshots
        self.view_versions = [len(snapshots.snapshot_history(
            self.p["view"]))]

    def trace_stopped(self) -> None:
        from cl_data_frame_spark.sources import snapshots
        self.view_versions.append(len(snapshots.snapshot_history(
            self.p["view"])))

    def layer_metrics(self, tracer, passes: set[int]) -> dict:
        """Storage, streaming and view figures of the traced passes, from
        spans, the version logs and the consumer's progress."""
        from statistics import median
        from cl_data_frame_spark.sources import snapshots

        def med(xs):
            return median(xs) if xs else 0.0

        def top(names, ops):
            return [s.end - s.start for s in tracer.spans
                    if s.parent is None and s.name in names and s.op in ops]

        out = {f"lakehouse.{k}": v[0] for k, v in self.e2e.items()}
        out["snapshots.commit_s"] = med(top(
            {"snapshot_write", "snapshot_delete", "snapshot_update",
             "snapshot_merge"}, {"append", "delete", "update", "merge"}))
        out["snapshots.resolve_hot_s"] = med(top({"snapshot_read"},
                                                 {"read_latest"}))
        out["snapshots.resolve_cold_s"] = med(top({"snapshot_read"},
                                                  {"read_travel"}))
        out["snapshots.optimize_s"] = med(top({"snapshot_optimize"},
                                              {"optimize"}))
        added = written = rewritten = 0
        for e in self.log:
            if e["pass"] not in passes:
                continue
            files = _added_files(self.p["table"], e["version"])
            nbytes = sum(os.path.getsize(f) for f in files)
            added += len(files)
            if e["op"] == "optimize":
                rewritten += nbytes
            else:
                written += nbytes
        out["snapshots.files_added"] = added
        out["snapshots.bytes_written"] = written
        out["snapshots.bytes_rewritten"] = rewritten
        scanned = total = 0
        for r in self.reads:
            if r["lo"] is None or r["pass"] not in passes:
                continue
            scanned += len(snapshots.snapshot_scan_files(
                self.p["table"], r["version"],
                where=[("id", ">=", r["lo"]), ("id", "<", r["hi"])]))
            total += len(snapshots.snapshot_scan_files(self.p["table"],
                                                       r["version"]))
        out["snapshots.files_scanned"] = scanned
        out["snapshots.prune_ratio"] = 1 - scanned / total if total else 0.0

        progress = [p for pid, p in self.progress
                    if pid in passes and p.get("numInputRows")]
        durs = [p["durationMs"].get("triggerExecution", 0) / 1e3
                for p in progress]
        out["streaming.batches"] = len(progress)
        out["streaming.batch_p50_s"] = med(durs)
        out["streaming.rows_per_s"] = sum(
            p["numInputRows"] for p in progress) / sum(durs) \
            if sum(durs) else 0.0
        out["streaming.state_rows"] = sum(
            op.get("numRowsTotal", 0) for p in progress[-1:]
            for op in p.get("stateOperators", []))
        out["streaming.backlog_versions"] = self.version - max(
            (_end_version(p) for _, p in self.progress), default=0)

        out["matview.refresh_s"] = med(top({"matview_refresh"},
                                           {"refresh"}))
        useful = sum(r.get("groups_touched", 0) for r in self.refreshes
                     if r["pass"] in passes)
        hist = snapshots.snapshot_history(self.p["view"])
        rewritten_rows = sum(
            (e.get("operation_metrics") or {}).get("numOutputRows", 0)
            for e in hist[self.view_versions[0]:self.view_versions[1]])
        out["matview.useful_ratio"] = useful / rewritten_rows \
            if rewritten_rows else 0.0
        return out

    def write_amp(self) -> float:
        """Bytes under the table directory per byte of its live rows
        written once as plain parquet."""
        from cl_data_frame_spark.sources import snapshots
        plain = os.path.join(self.h.work_dir, "lakehouse", "plain")
        snapshots.snapshot_read(self.h.spark, self.p["table"]).spark_df \
            .coalesce(1).write.mode("overwrite").parquet(plain)
        return _du(self.p["table"]) / max(_du(plain, ".parquet"), 1)

    def check(self) -> list[str]:
        import duckdb
        from cl_data_frame_spark.operators import matview
        from cl_data_frame_spark.sources import snapshots
        bad = list(self.dedup_bad)
        con = duckdb.connect()
        lake = os.path.join(self.h.data_dir, "lake")
        reads = {}
        for r in self.reads:
            reads.setdefault(r["version"], []).append(r)
        try:
            for e in self.log:
                ids = ",".join(map(str, e["ids"])) or "NULL"
                if e["op"] == "create":
                    con.execute(
                        "CREATE TABLE t AS SELECT * FROM read_parquet("
                        f"'{lake}/base.parquet') WHERE id IN ({ids})")
                elif e["op"] == "append":
                    con.execute(f"INSERT INTO t SELECT * FROM read_parquet("
                                f"'{e['path']}') WHERE id IN ({ids})")
                elif e["op"] == "delete":
                    con.execute(f"DELETE FROM t WHERE id IN ({ids})")
                elif e["op"] == "merge":
                    con.execute(f"DELETE FROM t WHERE id IN ({ids})")
                    con.execute("INSERT INTO t SELECT * FROM read_parquet("
                                f"'{e['path']}')")
                for r in reads.pop(e["version"], []):
                    cond = "" if r["lo"] is None else \
                        f" WHERE id >= {r['lo']} AND id < {r['hi']}"
                    n, s = con.execute("SELECT count(*), coalesce(sum("
                                       f"value), 0) FROM t{cond}").fetchone()
                    if not oracle.close((n, float(s)), tuple(r["got"])):
                        bad.append(f"read at v{r['version']} got "
                                   f"{r['got']} want {(n, s)}")
            for v in reads:
                bad.append(f"read at v{v} has no replayed version")
            got = snapshots.snapshot_read(self.h.spark, self.p["table"]) \
                .spark_df
            why = oracle.mismatch(got.columns,
                                  [tuple(r) for r in got.collect()],
                                  *oracle.query(con, "SELECT * FROM t"))
            if why:
                bad.append(f"final table: {why}")
            view = matview.matview_read(self.h.spark, self.p["view"]) \
                .spark_df.select("kind", "cnt", "sum_value", "min_value",
                                 "max_value")
            why = oracle.mismatch(
                view.columns, [tuple(r) for r in view.collect()],
                *oracle.query(con, "SELECT kind, count(*) AS cnt, "
                              "sum(value) AS sum_value, min(value) AS "
                              "min_value, max(value) AS max_value FROM t "
                              "GROUP BY kind"))
            if why:
                bad.append(f"matview: {why}")
        finally:
            con.close()
        return bad


def _end_version(progress: dict) -> int:
    """The table version a consumer batch read up to."""
    end = progress["sources"][0]["endOffset"]
    return int((json.loads(end) if isinstance(end, str) else end)["version"])


def _added_files(table_dir: str, version: int) -> list[str]:
    from cl_data_frame_spark.sources import snapshots
    now = set(snapshots.snapshot_scan_files(table_dir, version))
    before = set(snapshots.snapshot_scan_files(table_dir, version - 1)) \
        if version > 0 else set()
    return [os.path.join(table_dir, f) for f in sorted(now - before)]


def _du(path: str, suffix: str = "") -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                total += os.path.getsize(os.path.join(root, f))
    return total


WORKLOADS = {"analytics": Analytics, "lakehouse": Lakehouse}

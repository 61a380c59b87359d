"""Benchmark-local entries: direct calls into the layers that the
registry entries of the analytics pass do not reach (summary, stats,
sampling, curation, graph, ann_index).

Each entry takes ``(spark, data_dir)`` and returns a DataFrame, like a
``__spark_entry__.queries()`` entry. ``ORACLE_SQL`` holds the DuckDB
query over the same tables that its output must match; ``ann_query`` is
checked against an exact numpy top-k instead (``ann_mismatch``). Layer
functions are looked up through their module at call time, so a traced
run sees them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

HIST_BINS = 16
TOP_K = 10
SAMPLE_FRACTION = 0.3
BLOCKLIST = ["spark", "join", "hash"]
#: IVF cells of the ANN index; queries probe all of them, so the top-k
#: is exact and checkable. One k-means round trains the cells: their
#: quality does not change the checked result, and each round is several
#: Spark jobs of set-up time.
ANN_CELLS = 8


def _read(spark, data_dir: str, name: str):
    return spark.read.parquet(os.path.join(data_dir, f"{name}.parquet"))


def _frame(spark, data_dir: str, name: str):
    from cl_data_frame_spark.frame import SparkFrame
    return SparkFrame(_read(spark, data_dir, name))


def summary_histogram(spark, data_dir):
    from cl_data_frame_spark import summary
    return summary.equi_width_histogram(
        _frame(spark, data_dir, "lineitem"), "l_extendedprice", HIST_BINS)


def stats_top_frequent(spark, data_dir):
    from cl_data_frame_spark.operators import stats
    return stats.top_frequent(_frame(spark, data_dir, "lineitem"),
                              "l_partkey", TOP_K).spark_df


def sampling_hash(spark, data_dir):
    from cl_data_frame_spark.frame import SparkFrame
    from cl_data_frame_spark.operators import sampling
    docs = SparkFrame(_read(spark, data_dir, "documents")
                      .select("doc_id", "lang", "n_chars"))
    return sampling.hash_sample(docs, "doc_id", SAMPLE_FRACTION).spark_df


def curation_blocklist(spark, data_dir):
    from cl_data_frame_spark.operators import curation
    return curation.blocklist_screen(_frame(spark, data_dir, "documents"),
                                     BLOCKLIST).spark_df


def graph_triangles(spark, data_dir):
    from cl_data_frame_spark.operators import graph
    return graph.triangle_counts(_frame(spark, data_dir, "edges")).spark_df


def ann_index_dir(data_dir: str) -> str:
    return os.path.join(data_dir, "ann_index")


def ann_build(spark, data_dir) -> None:
    """The fixture: an IVF index over the embeddings."""
    from cl_data_frame_spark.operators import ann_index
    ann_index.ann_index_build(spark, ann_index_dir(data_dir),
                              _frame(spark, data_dir, "embeddings"),
                              k=ANN_CELLS, max_iter=1)


def _embeddings(data_dir: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    ids = t["vec_id"].to_numpy()
    vecs = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    return ids, vecs


def ann_query(spark, data_dir):
    """Top-k of the first embedding's neighbours through the index."""
    from cl_data_frame_spark.operators import ann_index
    t = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    q = t["embedding"][0].as_py()
    return ann_index.ann_index_query(spark, ann_index_dir(data_dir), q,
                                     k=TOP_K, nprobe=ANN_CELLS).spark_df


def ann_mismatch(cols: list[str], rows: list[tuple],
                 data_dir: str) -> str | None:
    """None when *rows* are the exact cosine top-k (ids in rank order,
    cosines to 6 decimals), else a one-line reason."""
    ids, vecs = _embeddings(data_dir)
    norms = np.linalg.norm(vecs, axis=1)
    cos = vecs @ vecs[0] / (norms * norms[0])
    order = np.lexsort((ids, -cos))[:TOP_K]
    got = [(r[cols.index("vec_id")], r[cols.index("cosine")]) for r in rows]
    want = [(int(ids[i]), float(cos[i])) for i in order]
    if [g[0] for g in got] != [w[0] for w in want]:
        return f"ids {[g[0] for g in got]} != {[w[0] for w in want]}"
    for (i, a), (_, b) in zip(got, want):
        if abs(a - b) > 1.5e-6:
            return f"cosine of {i}: {a} != {b}"
    return None


LOCAL = {
    "summary_histogram": summary_histogram,
    "stats_top_frequent": stats_top_frequent,
    "sampling_hash": sampling_hash,
    "curation_blocklist": curation_blocklist,
    "graph_triangles": graph_triangles,
    "ann_query": ann_query,
}

CHECKS = {"ann_query": ann_mismatch}

_W = f"(mx - mn) / {float(HIST_BINS)}"
_LO = f"mn + CAST(bin AS DOUBLE) * {_W}"
_TERMS = ", ".join(f"'{t}'" for t in BLOCKLIST)

ORACLE_SQL = {
    "summary_histogram": f"""
        WITH b AS (SELECT min(l_extendedprice) AS mn,
                          max(l_extendedprice) AS mx FROM lineitem),
        h AS (SELECT CAST(CASE WHEN mx > mn THEN least(floor(
                         (l_extendedprice - mn) / ({_W})), {HIST_BINS - 1})
                         ELSE 0 END AS BIGINT) AS bin, mn, mx
              FROM lineitem, b)
        SELECT bin, round({_LO}, 6) AS lo, round({_LO} + {_W}, 6) AS hi,
               count(*) AS n
        FROM h GROUP BY bin, mn, mx""",
    "stats_top_frequent": f"""
        SELECT l_partkey, n, rank FROM (
            SELECT l_partkey, count(*) AS n, row_number() OVER (
                ORDER BY count(*) DESC, l_partkey) AS rank
            FROM lineitem GROUP BY l_partkey)
        WHERE rank <= {TOP_K}""",
    "sampling_hash": f"""
        SELECT doc_id, lang, n_chars FROM documents
        WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 10000 < {round(SAMPLE_FRACTION * 10000)}""",
    "curation_blocklist": f"""
        SELECT doc_id, len(hits) AS n_hits,
               len(list_distinct(hits)) AS n_terms,
               CAST(len(hits) > 0 AS INTEGER) AS blocked
        FROM (SELECT doc_id, list_filter(
                  list_transform(string_split_regex(trim(text), '\\s+'),
                                 t -> lower(t)),
                  t -> list_contains([{_TERMS}], t)) AS hits
              FROM documents)""",
    "graph_triangles": """
        WITH e AS (SELECT DISTINCT least(id_a, id_b) AS a,
                          greatest(id_a, id_b) AS b
                   FROM edges WHERE id_a <> id_b),
        t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM e e1 JOIN e e2 ON e2.a = e1.b
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        c AS (SELECT x AS node FROM t UNION ALL SELECT y FROM t
              UNION ALL SELECT z FROM t),
        d AS (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        SELECT node, degree, coalesce(triangles, 0) AS triangles
        FROM (SELECT node, count(*) AS degree FROM d GROUP BY node)
        LEFT JOIN (SELECT node, count(*) AS triangles FROM c
                   GROUP BY node) USING (node)""",
}

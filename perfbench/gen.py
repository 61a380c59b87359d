"""Seeded input generator for the benchmark.

Every table is derived from ``numpy.random.default_rng(seed)`` alone and
written with pyarrow, so the same seed gives byte-identical parquet files
and a different seed gives different ones. The schemas match the
TPC-H-like star schema plus ``events``/``documents``/``embeddings`` that
``__spark_entry__.queries()`` and ``oracle_sql()`` read
(``<dir>/<table>.parquet``).

Two input sets:

- ``star_schema``: the analytics tables, with a seeded hot-key skew on
  ``lineitem.l_orderkey`` (the fact join's key) and ``l_partkey`` (the
  heavy-hitter key), fixed shares of exact and near duplicate documents
  and near-duplicate embeddings, and a small pair graph for the graph
  layer.
- ``lake_batches``: the lakehouse ingest stream, a base load plus
  batches whose documents repeat earlier ones at a fixed share.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings", "edges"]

#: HOT_SHARE of the lineitems go to HOT_KEYS seeded orders (and,
#: independently, parts). With 4 shuffle partitions each reducer's fair
#: share of the fact join is 25%; the hot orders add 4% each to whichever
#: reducers they hash to, so the heaviest join task carries about 1.3-1.5x
#: the mean, a skew that AQE skew handling or salting would move. On the
#: part key they make the top-k of the heavy-hitter entries a few clear
#: winners instead of ties among ~30-row counts.
HOT_KEYS, HOT_SHARE = 5, 0.2
#: share of words a near-duplicate text rewrites; share of texts that get
#: a PII suffix for the scrub entries
NEAR_EDIT_SHARE, PII_SHARE = 0.05, 0.05
EMBED_DIM = 64
#: documents that are exact copies of earlier ones, and again as many
#: near copies: the duplicates the dedup entries must find (twice the
#: share of embeddings are near copies)
DOC_DUP_SHARE = 0.1

WORDS = ("a the data spark stream batch table column row key value group "
         "join agg sort scan filter merge window order line part customer "
         "query hash vector big small fast slow").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
PII = ["contact alice@example.com", "call 555-0101", "mail bob@test.org",
       "phone 555-0199"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n: int, lo: int = 10, hi: int = 90) -> list[str]:
    lens = rng.integers(lo, hi, n)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(WORDS[w] for w in words[pos:pos + k]))
        pos += k
    return out


def _near_copy(rng, text: str) -> str:
    """*text* with NEAR_EDIT_SHARE of its words replaced (at least
    one)."""
    words = text.split(" ")
    k = max(1, int(len(words) * NEAR_EDIT_SHARE))
    for i in rng.choice(len(words), k, replace=False):
        words[i] = WORDS[int(rng.integers(0, len(WORDS)))]
    if words == text.split(" "):
        words.append("x")
    return " ".join(words)


def _with_duplicates(rng, texts: list[str]) -> list[str]:
    """Overwrite DOC_DUP_SHARE of *texts* with exact copies of earlier
    texts and as many with near copies (the first tenth stays
    original)."""
    n = len(texts)
    n_exact = n_near = int(n * DOC_DUP_SHARE)
    slots = rng.choice(np.arange(n // 10, n), n_exact + n_near,
                       replace=False)
    exact = set(slots[:n_exact].tolist())
    out = list(texts)
    for i in sorted(slots.tolist()):
        src = out[int(rng.integers(0, i))]
        out[i] = src if i in exact else _near_copy(rng, src)
    return out


def _pii(rng, texts: list[str]) -> list[str]:
    out = list(texts)
    for i in rng.choice(len(out), int(len(out) * PII_SHARE),
                        replace=False):
        out[i] = f"{out[i]} {PII[int(rng.integers(0, len(PII)))]}"
    return out


def documents(rng, n: int) -> pa.Table:
    texts = _pii(rng, _with_duplicates(rng, _texts(rng, n)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n: int) -> pa.Table:
    dim = EMBED_DIM
    centers = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n, dim))
    n_near = int(n * 2 * DOC_DUP_SHARE)
    if n_near:
        dst = rng.choice(np.arange(n // 10, n), n_near, replace=False)
        for i in sorted(dst):
            src = int(rng.integers(0, i))
            vecs[i] = vecs[src] + rng.normal(0.0, 0.01, dim)
            labels[i] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), flat),
        "label": pa.array(labels, pa.int32()),
    })


def events(rng, n: int) -> pa.Table:
    offs = np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(_EPOCH_2024 + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pa.array(rng.choice(
            ["click", "view", "purchase", "signup", "error"], n),
            pa.string()),
        "value": pa.array(_money(rng, 0.0, 560.0, n), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, n)], pa.string()),
    })


def _hot(rng, keys: np.ndarray, n_keys: int) -> np.ndarray:
    """*keys* with HOT_SHARE of them moved onto HOT_KEYS seeded keys."""
    hot = rng.choice(n_keys, HOT_KEYS, replace=False)
    is_hot = rng.random(len(keys)) < HOT_SHARE
    keys[is_hot] = hot[rng.integers(0, HOT_KEYS, int(is_hot.sum()))]
    return keys


def edges(rng, n_nodes: int) -> pa.Table:
    """An undirected pair graph (``id_a``, ``id_b``): a sparse random
    graph of average degree 4 plus planted 4-cliques, the shape of a
    near-duplicate pair graph (chains and tight clusters)."""
    a = rng.integers(0, n_nodes, 2 * n_nodes)
    b = rng.integers(0, n_nodes, 2 * n_nodes)
    pairs = set(zip(np.minimum(a, b).tolist(), np.maximum(a, b).tolist()))
    for c in rng.choice(n_nodes, (n_nodes // 20, 4), replace=False):
        c = sorted(c.tolist())
        pairs.update((x, y) for i, x in enumerate(c) for y in c[i + 1:])
    pairs = sorted((x, y) for x, y in pairs if x != y)
    return pa.table({
        "id_a": pa.array([p[0] for p in pairs], pa.int64()),
        "id_b": pa.array([p[1] for p in pairs], pa.int64())})


def star_schema(seed: int, out_dir: str, lineitems: int = 60_000,
                n_docs: int = 500, n_vecs: int = 500) -> dict[str, int]:
    """Write the tables; returns rows per table. Sizes follow the
    sf0.01 proportions scaled to *lineitems*; DOC_DUP_SHARE of the
    documents are exact copies and as many near copies of earlier
    ones, and twice that share of the embeddings are near copies."""
    rng = np.random.default_rng(seed)
    n_li = int(lineitems)
    n_ord, n_cust = n_li // 4, n_li // 40
    n_supp, n_part = max(n_li // 600, 10), n_li // 30
    n_ev = n_li // 6
    rows: dict[str, int] = {}

    def put(name, table):
        _write(table, out_dir, name)
        rows[name] = table.num_rows

    put("region", pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"], pa.string())}))
    put("nation", pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}))
    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)],
                           pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust),
                              pa.float64()),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"], n_cust), pa.string())}))
    put("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)],
                           pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp),
                              pa.float64())}))
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
            "widget"]
    put("part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
            n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
            pa.float64())}))
    put("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord),
                                  pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord),
                                 pa.float64()),
        "o_orderdate": pa.array(
            _EPOCH_1995 + (rng.integers(0, 2404, n_ord) * _DAY_US)
            .astype("timedelta64[us]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord), pa.string())}))
    orderkey = _hot(rng, rng.integers(0, n_ord, n_li), n_ord)
    partkey = _hot(rng, rng.integers(0, n_part, n_li), n_part)
    put("lineitem", pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float),
                               pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li),
                                    pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0,
                               pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li),
                                 pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), pa.string()),
        "l_shipdate": pa.array(
            _EPOCH_1995 + ((1 + rng.integers(0, 2498, n_li)) * _DAY_US)
            .astype("timedelta64[us]"), pa.timestamp("us"))}))
    put("events", events(rng, n_ev))
    put("documents", documents(rng, n_docs))
    put("embeddings", embeddings(rng, n_vecs))
    put("edges", edges(rng, 400))
    return rows


LAKE_SCHEMA = pa.schema([
    ("id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("kind", pa.string()), ("value", pa.float64()), ("text", pa.string()),
    ("batch", pa.int32())])
LAKE_KINDS = ["click", "view", "purchase", "signup", "error"]
#: share of ingested rows whose text repeats an earlier row's, half of
#: them exactly: the duplicates the index dedup has to flag
LAKE_DUP_SHARE = 0.1
#: rows per ingest batch. The lakehouse workload models trickle ingest:
#: many small commits, where the cost of a commit, a snapshot resolution
#: or a stream trigger is the layer's own metadata and job work rather
#: than the rows it moves. Measured on a 4-core host: with 1000-row
#: batches on a 10000-row base the geometric-mean op latency was 1.85x
#: that of 100-row batches on a 1000-row base (1.72 s against 0.93 s),
#: and a run took 85 s instead of 61 s.
LAKE_BATCH_ROWS = 100


def lake_batches(seed: int, out_dir: str, base_rows: int = 1_000,
                 n_batches: int = 40, batch_rows: int = LAKE_BATCH_ROWS
                 ) -> dict[str, int]:
    """Write ``lake/base.parquet`` and ``lake/batch_NNN.parquet``: rows
    with dense ids, event time increasing batch by batch, and texts of
    which LAKE_DUP_SHARE repeat (exactly or nearly) an earlier row's."""
    rng = np.random.default_rng([seed, 2])
    lake = os.path.join(out_dir, "lake")
    total = base_rows + n_batches * batch_rows
    texts = _texts(rng, total, 8, 40)
    n_dup = int(n_batches * batch_rows * LAKE_DUP_SHARE)
    for i in sorted(rng.choice(np.arange(base_rows, total), n_dup,
                               replace=False)):
        src = texts[int(rng.integers(0, i))]
        texts[i] = src if rng.random() < 0.5 else _near_copy(rng, src)
    offs = np.sort(rng.integers(0, 30 * _DAY_US, total))
    table = pa.table({
        "id": pa.array(np.arange(total), pa.int64()),
        "ts": pa.array(_EPOCH_2024 + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 500, total), pa.int64()),
        "kind": pa.array(rng.choice(LAKE_KINDS, total), pa.string()),
        "value": pa.array(_money(rng, 0.0, 500.0, total), pa.float64()),
        "text": pa.array(texts, pa.string()),
        "batch": pa.array(np.concatenate([
            np.full(base_rows, -1),
            np.repeat(np.arange(n_batches), batch_rows)]), pa.int32()),
    }, schema=LAKE_SCHEMA)
    _write(table.slice(0, base_rows), lake, "base")
    for b in range(n_batches):
        _write(table.slice(base_rows + b * batch_rows, batch_rows), lake,
               f"batch_{b:03d}")
    rows = star_schema(seed, out_dir, lineitems=6_000)
    rows["lake"] = total
    return rows

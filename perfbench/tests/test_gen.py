"""The generator is a pure function of the seed."""

import hashlib
import os

import gen


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = \
                    hashlib.sha256(fh.read()).hexdigest()
    return out


def _make(tmp_path, name: str, seed: int) -> dict[str, str]:
    d = str(tmp_path / name)
    gen.star_schema(seed, d, lineitems=600, n_docs=60, n_vecs=60)
    gen.lake_batches(seed, d, base_rows=50, n_batches=3, batch_rows=20)
    return _digest(d)


def test_same_seed_gives_identical_bytes(tmp_path):
    a, b = _make(tmp_path, "a", 7), _make(tmp_path, "b", 7)
    assert a and a == b


def test_different_seed_gives_different_inputs(tmp_path):
    a, b = _make(tmp_path, "a", 7), _make(tmp_path, "b", 8)
    assert a.keys() == b.keys()
    changed = [k for k in a if a[k] != b[k]]
    # region and nation are fixed dimension tables; everything else moves
    assert sorted(k for k in a if k not in changed) == [
        "nation.parquet", "region.parquet"]


def test_duplicate_shares_are_fixed(tmp_path):
    import pyarrow.parquet as pq
    d = str(tmp_path / "c")
    gen.star_schema(3, d, lineitems=600, n_docs=200, n_vecs=60)
    texts = pq.read_table(os.path.join(d, "documents.parquet"))[
        "text"].to_pylist()
    # 10% exact copies (PII suffixes can break a few of them)
    assert 0.05 * 200 <= len(texts) - len(set(texts)) <= 0.1 * 200

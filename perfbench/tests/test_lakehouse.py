"""The lakehouse op generator only draws rows it knows."""

import pyarrow.parquet as pq

import gen
import run
import workloads


def test_merges_and_deletes_over_many_cycles(tmp_path):
    h = run.Harness(str(tmp_path))
    gen.lake_batches(4, h.data_dir, base_rows=30, n_batches=2,
                     batch_rows=10)
    wl = workloads.Lakehouse(h)
    wl.seed = 4
    wl.load_inputs()
    base = sorted(wl.arrow["base"]["id"].to_pylist())
    wl._logged({"op": "create", "ids": base}, 0)
    for cycle in range(60):
        wl.cycle = cycle
        path = wl._merge_source(f"batch_{cycle:03d}")
        ids = pq.read_table(path, columns=["id"])["id"].to_pylist()
        assert all(i in wl.by_id for i in ids)
        wl._logged({"op": "merge", "ids": ids, "path": path}, 2 * cycle + 1)
        gone = sorted(wl.rng.sample(wl.live, 1))
        wl._logged({"op": "delete", "ids": gone}, 2 * cycle + 2)
    merged = [i for i in wl.live if i >= 1_000_000]
    # by now most live rows came in through merges, and merge sources
    # drew on them
    assert len(merged) > len(base)
    assert set(wl.live) <= set(wl.by_id)

"""Failures and wrong results are counted, never dropped."""

import math

import pytest

import gen
import run
import workloads


def test_failed_op_counts_and_is_a_missed_latency(tmp_path):
    h = run.Harness(str(tmp_path))
    h.pass_id = 1
    assert h.timed("query", "ok", lambda: 5) == 5
    assert h.timed("query", "bad", lambda: 1 / 0) is None
    assert (h.attempted, h.failed) == (2, 1)
    lat = [s.seconds for s in h.samples]
    assert math.isinf(lat[1])
    assert math.isinf(run.percentile(lat, 0.9))
    assert not math.isinf(run.percentile(lat + [0.1, 0.2], 0.5))
    out = run.outcome(h, [])
    assert out["fail_ratio"][0] == 0.5
    assert out["wrong_results"][0] == 0
    assert run._finite(float("inf")) == 1e9


def test_failed_pass_is_counted(tmp_path):
    class Broken:
        def run_pass(self):
            raise RuntimeError("lost executor")

    h = run.Harness(str(tmp_path))
    run.run_window(h, Broken(), 0.0)
    assert (h.attempted, h.failed) == (1, 1)


def test_percentile_matches_linear_interpolation():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert run.percentile(xs, 0.5) == 2.5
    assert run.percentile(xs, 0.9) == pytest.approx(3.7)


def test_wrong_result_is_reported(tmp_path):
    pytest.importorskip("__spark_entry__")
    h = run.Harness(str(tmp_path))
    gen.star_schema(5, h.data_dir, lineitems=600, n_docs=60, n_vecs=60)
    wl = workloads.Analytics(h)
    wl.ENTRIES = ["s_join_agg", "r_slice_mask"]
    import oracle
    import __spark_entry__
    con = oracle.connect(h.data_dir)
    for name in wl.ENTRIES:
        wl.outputs[name] = oracle.query(
            con, __spark_entry__.oracle_sql()[name])
    assert wl.check() == []
    cols, rows = wl.outputs["s_join_agg"]
    first = list(rows[0])
    k = next(i for i, v in enumerate(first) if isinstance(v, (int, float)))
    first[k] = first[k] + 1
    wl.outputs["s_join_agg"] = (cols, [tuple(first)] + rows[1:])
    bad = wl.check()
    assert len(bad) == 1 and bad[0].startswith("s_join_agg")
    assert run.outcome(h, bad)["wrong_results"][0] == 1


def test_each_op_is_measured_in_the_sentinel_readings_around_it(tmp_path):
    class FakeSentinel:
        def __init__(self):
            self.readings = [1.0]
            self.next = iter([3.0, 2.0])

        def read(self):
            self.readings.append(next(self.next))

    h = run.Harness(str(tmp_path))
    h.pass_id = 1
    h.sentinel = FakeSentinel()
    h.timed("query", "a", lambda: None)
    h.timed("query", "b", lambda: None)
    assert [s.sentinel_s for s in h.samples] == [2.0, 2.5]

    class Wl:
        rows_per_pass = 100

    samples = [run.Sample("query", "a", 4.0, 1, False, sentinel_s=2.0),
               run.Sample("query", "b", 1.0, 1, False, sentinel_s=0.5)]
    m = run.end_to_end(Wl(), samples, 10.0, 0)
    assert m["rows_per_s"][0] == 20.0
    assert m["rows_per_sentinel"][0] == 25.0    # 100 / (4/2 + 1/0.5)
    assert m["op_geomean_s"][0] == 2.0
    assert m["op_geomean_sentinels"][0] == 2.0  # sqrt(2 * 2)

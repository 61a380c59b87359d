"""Result comparison: order-insensitive, null- and NaN-aware."""

import oracle


def test_nulls_and_nans_match_in_any_order():
    rows = [(None, 1.0), (float("nan"), 2.0), (1.0, None), (0.5, 3.0)]
    assert oracle.mismatch(["x", "y"], rows,
                           ["y", "x"], [(y, x) for x, y in rows[::-1]]) \
        is None


def test_null_is_not_nan_and_values_must_agree():
    assert oracle.mismatch(["x"], [(None,)], ["x"], [(float("nan"),)])
    assert oracle.mismatch(["x"], [(1.0,)], ["x"], [(1.0 + 1e-12,)]) is None
    assert oracle.mismatch(["x"], [(1.0,)], ["x"], [(1.001,)])
    assert oracle.mismatch(["x"], [(1,), (2,)], ["x"], [(1,)])

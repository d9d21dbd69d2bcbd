"""The oracle-replay rule of tools/strict_check.py, pinned on pandas frames.

The driver's value-hash tells int64 from float64 and one float from its
neighbour, so the replay must too. No Spark session needed.
"""

import numpy as np
import pandas as pd

from tools.strict_check import compare, normalize, strict_match


def test_int_column_against_same_float_values_is_rejected():
    ints = pd.Series([1, 2, 3], dtype="int64")
    ok, msg = strict_match(ints, ints.astype("float64"))
    assert not ok and "dtype kind" in msg
    assert compare(pd.DataFrame({"n": ints}), pd.DataFrame({"n": ints.astype(float)}))


def test_one_ulp_float_difference_is_rejected():
    x = 0.1 + 0.2
    ok, _ = strict_match(pd.Series([x]), pd.Series([np.nextafter(x, 2 * x)]))
    assert not ok


def test_nan_matches_nan():
    a = pd.Series([1.5, np.nan])
    assert strict_match(a, a.copy()) == (True, "")


def test_row_order_and_column_case_are_ignored():
    got = pd.DataFrame({"K": [2, 1, 3], "v": ["b", "a", "c"]})
    want = pd.DataFrame({"v": ["a", "b", "c"], "k": [1, 2, 3]})
    assert compare(got, want) == []


def test_row_count_and_column_mismatches_are_reported():
    one = pd.DataFrame({"k": [1]})
    assert compare(one, pd.DataFrame({"k": [1, 1]})) == ["rows 1 vs 2"]
    assert compare(one, pd.DataFrame({"j": [1]})) == ["cols ['k'] vs ['j']"]


def test_zero_column_frame_normalizes():
    empty = pd.DataFrame(index=range(2))
    assert normalize(empty).shape == (2, 0)
    assert compare(empty, pd.DataFrame(index=range(2))) == []

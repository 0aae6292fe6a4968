"""tools/gate_compare.py --strict-types: the dtype kind of an object
column comes from every non-null value, not a prefix of them."""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pandas as pd
import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools", "gate_compare.py")
_spec = importlib.util.spec_from_file_location("gate_compare", _PATH)
gate_compare = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(gate_compare)


@pytest.mark.parametrize("values,kind", [
    ([1, 2, None, np.int64(3)], "i"),
    ([True, None, np.bool_(False)], "b"),
    ([True, 1], "O"),
    (["a", None], "O"),
    ([None, None], "O"),
    ([1.5, 2], "O"),
])
def test_object_column_kind(values, kind):
    assert gate_compare._dtype_kind(pd.Series(values, dtype=object)) \
        == kind


def test_object_column_with_late_string_is_not_int():
    s = pd.Series(list(range(50)) + ["x"], dtype=object)
    assert gate_compare._dtype_kind(s) == "O"
    assert gate_compare._dtype_kind(s.iloc[:50]) == "i"


def test_object_column_with_late_int_is_not_bool():
    s = pd.Series([True] * 60 + [7], dtype=object)
    assert gate_compare._dtype_kind(s) == "O"

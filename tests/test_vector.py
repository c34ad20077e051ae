"""Guards of the vector-expression builders that must hold under
``python -O`` too."""

from __future__ import annotations

import pytest

from mapreduce_server_spark.functions.vector import _dlit


@pytest.mark.parametrize("v", [float("nan"), float("inf"), float("-inf")])
def test_dlit_rejects_non_finite(v):
    with pytest.raises(ValueError):
        _dlit(v)


def test_dlit_round_trips_finite():
    assert _dlit(0.1) == "0.1D"
    assert float(_dlit(-2.5e-300)[:-1]) == -2.5e-300

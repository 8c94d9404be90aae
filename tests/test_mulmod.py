"""The vectorized Mersenne-61 mulmod behind the exact MinHash family is
bit-identical to Python big-int arithmetic."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from informationretrieval_en_people_cn_spark.operators.pipeline import _mulmod_p61

P = (1 << 61) - 1
EDGES = [0, 1, 2, (1 << 32) - 1, 1 << 32, 1 << 60, P - 1, P]


def _check(a: list[int], x: list[int]) -> None:
    got = _mulmod_p61(np.array(a, dtype=np.uint64), np.array(x, dtype=np.uint64))
    assert got.dtype == np.uint64 and got.shape == (len(a), len(x))
    want = [[(ai * xi) % P for xi in x] for ai in a]
    assert got.tolist() == want


def test_mulmod_p61_edges():
    _check(EDGES, EDGES)


def test_mulmod_p61_random_61_bit():
    rng = np.random.default_rng(61)
    a = [int(v) for v in rng.integers(0, 1 << 61, size=64, dtype=np.uint64)]
    x = [int(v) for v in rng.integers(0, 1 << 61, size=64, dtype=np.uint64)]
    _check(a + EDGES, x + EDGES)


@given(
    st.lists(st.integers(min_value=0, max_value=P), min_size=1, max_size=8),
    st.lists(st.integers(min_value=0, max_value=P), min_size=1, max_size=8),
)
@settings(max_examples=300, deadline=None)
def test_mulmod_p61_property(a, x):
    _check(a, x)

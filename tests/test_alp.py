"""ALP double codec (codecs/alp.py): bit-exact round trips, the
exception path and selector integration."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_raquet_spark import selector
from duckdb_raquet_spark.codecs import alp, ids, registry


def _roundtrip(vals: np.ndarray) -> np.ndarray:
    payload = selector.encode_double_auto(np.ascontiguousarray(vals), 6)
    dec = registry.decode_any(payload)
    assert isinstance(dec, np.ndarray)
    return payload, dec.view(np.float64)


def _assert_bitexact(vals, back):
    assert np.array_equal(
        np.ascontiguousarray(back).view(np.int64),
        np.ascontiguousarray(vals).view(np.int64),
    )


def test_decimal_doubles_pick_alp_and_shrink():
    rng = np.random.default_rng(11)
    vals = np.round(rng.uniform(0, 1000, 4096), 2)
    payload, back = _roundtrip(vals)
    assert payload[0] == ids.ALP_DOUBLE
    _assert_bitexact(vals, back)
    base = selector.encode_int_auto(vals.view(np.int64), 6)
    assert len(payload) < len(base)


def test_random_bits_fall_back():
    rng = np.random.default_rng(12)
    vals = rng.standard_normal(2048)
    # full-precision normals are not decimal-like: try_encode declines
    assert alp.try_encode(vals, lambda s: selector.encode_int_auto(s, 6)) is None
    payload, back = _roundtrip(vals)
    assert payload[0] != ids.ALP_DOUBLE
    _assert_bitexact(vals, back)


def test_exceptions_carry_exact_bits():
    rng = np.random.default_rng(13)
    vals = np.round(rng.uniform(-50, 50, 1000), 3)
    # sprinkle non-decimal values under the 20% exception budget
    vals[::13] = rng.standard_normal(len(vals[::13]))
    vals[1] = np.nan
    vals[2] = np.inf
    vals[3] = -np.inf
    vals[4] = -0.0
    vals[5] = 1e300
    payload, back = _roundtrip(vals)
    assert payload[0] == ids.ALP_DOUBLE
    _assert_bitexact(vals, back)
    assert np.isnan(back[1]) and np.isinf(back[2])
    # -0.0 keeps its sign bit
    assert np.signbit(back[4])


def test_negative_zero_only_vector():
    vals = np.array([-0.0] * 64)
    _, back = _roundtrip(vals)
    _assert_bitexact(vals, back)
    assert np.signbit(back).all()


def test_trailing_zero_magnitudes_use_factor():
    # values like 123400.0 benefit from f > 0 (scale DOWN by 10^f)
    rng = np.random.default_rng(14)
    vals = (rng.integers(1, 10**4, 2048) * 100).astype(np.float64)
    payload, back = _roundtrip(vals)
    _assert_bitexact(vals, back)
    if payload[0] == ids.ALP_DOUBLE:
        e, f = payload[2], payload[3]  # after tag + 1-byte uvarint? no:
        # header is [tag][uvarint n][e][f]; n=2048 is a 2-byte uvarint
        # -> parse properly instead of guessing offsets
        from duckdb_raquet_spark.codecs.util import read_uvarint

        n, pos = read_uvarint(payload, 1)
        assert n == 2048
        e, f = payload[pos], payload[pos + 1]
        assert f <= e


def test_arrow_and_pandas_paths_agree():
    rng = np.random.default_rng(15)
    vals = np.round(rng.uniform(0, 10, 1024), 4)
    p_arrow, _, _ = selector.encode_column_arrow(
        pa.array(vals, type=pa.float64()), selector.KIND_DOUBLE, 6
    )
    assert p_arrow[0] == ids.ALP_DOUBLE


def test_force_plain_skips_alp():
    vals = np.round(np.linspace(0, 1, 512), 2)
    payload = selector.encode_double_auto(vals, 6, force="plain")
    assert payload[0] == ids.INT_PLAIN
    _assert_bitexact(vals, registry.decode_any(payload).view(np.float64))


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.floats(allow_nan=True, allow_infinity=True, width=64),
            st.decimals(
                min_value=-10**9, max_value=10**9, places=3
            ).map(float),
        ),
        min_size=1,
        max_size=300,
    )
)
def test_property_bitexact_roundtrip(xs):
    vals = np.array(xs, dtype=np.float64)
    payload, back = _roundtrip(vals)
    _assert_bitexact(vals, back)


def test_empty_vector_declines():
    assert alp.try_encode(
        np.array([], dtype=np.float64), lambda s: selector.encode_int_auto(s, 6)
    ) is None

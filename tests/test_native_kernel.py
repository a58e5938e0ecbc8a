"""Acceptance suite for the bundled C chunk_many_raw provider.

Contract (kernel/native.py): bit-for-bit equality with the scalar
oracle — the same bar the numpy kernel is held to. Everything here
auto-skips when the provider cannot build (no C compiler).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import chunker_spark.kernel.chunker as sc
import chunker_spark.kernel.vectorized as vec
from chunker_spark.kernel import native, native_cc
from chunker_spark.kernel.gorng import get_random

from .golden_vectors import BOUNDS_SIZES, CHUNKS1, CHUNKS2, CHUNKS3, CHUNKS4, TEST_POL

_provider = native_cc.load()

pytestmark = pytest.mark.skipif(
    _provider is None, reason="no C compiler / provider build failed"
)


def _native_chunks(data: bytes, params: sc.ChunkerParams) -> list[sc.Chunk]:
    raw = _provider.chunk_many_raw(
        [data], params.pol, params.average_bits, params.min_size, params.max_size
    )[0]
    return [sc.Chunk(o, ln, cut) for (o, ln, cut) in raw]


@pytest.mark.parametrize(
    "name,expected,kw",
    [
        ("chunks1", CHUNKS1, dict()),
        ("chunks3", CHUNKS3, dict(average_bits=19)),
        ("chunks4", CHUNKS4, dict(min_size=786432, max_size=1310720)),
    ],
)
def test_native_golden_vectors(name, expected, kw):
    data = bytes(get_random(23, 32 * 1024 * 1024))
    params = sc.ChunkerParams(pol=TEST_POL, **kw)
    got = _native_chunks(data, params)
    assert [(c.length, c.cut) for c in got] == [(ln, cut) for ln, cut, _ in expected]
    assert got[0].offset == 0
    assert all(a.end == b.offset for a, b in zip(got, got[1:]))


def test_native_golden_zeros():
    data = bytes(4 * 524288)
    got = _native_chunks(data, sc.ChunkerParams(pol=TEST_POL))
    assert [(c.length, c.cut) for c in got] == [(ln, cut) for ln, cut, _ in CHUNKS2]


def test_native_golden_bounds():
    data = bytes(get_random(23, 64 * 1024))
    params = sc.ChunkerParams(pol=TEST_POL, average_bits=7, min_size=126, max_size=130)
    got = _native_chunks(data, params)
    assert [c.length for c in got if c.length != 130] == BOUNDS_SIZES
    assert all(126 <= c.length <= 130 for c in got[:-1])


@pytest.mark.parametrize("seed,size,kw", [
    (1, 300_000, dict(average_bits=12, min_size=1024, max_size=16384)),
    (2, 100_001, dict(average_bits=8, min_size=64, max_size=1 << 20)),
    (3, 65_536, dict(average_bits=10, min_size=4096, max_size=4096 * 2)),
    (4, 131_072, dict(average_bits=16, min_size=2048, max_size=65536)),
    (5, 777, dict(average_bits=9, min_size=256, max_size=1024)),
    (6, 524_288 + 17, dict()),          # default params, straddles min_size
    (7, 524_288 - 1, dict()),           # one byte short of min_size
    (8, 524_288 - 64, dict()),          # exactly pre (nothing hashed)
    (9, 524_288 - 63, dict()),          # pre + 1 (one byte hashed)
])
def test_native_equals_scalar(seed, size, kw):
    data = get_random(seed, size)
    params = sc.ChunkerParams(pol=TEST_POL, **kw)
    assert _native_chunks(bytes(data), params) == sc.chunk_list(data, params)


def test_native_equals_scalar_zeros_and_repeats():
    params = sc.ChunkerParams(pol=TEST_POL, average_bits=8, min_size=128, max_size=4096)
    for data in (bytes(10_000), b"abcdef" * 5_000, bytes(range(256)) * 64, b"", b"x"):
        assert _native_chunks(data, params) == sc.chunk_list(data, params)


@settings(max_examples=40, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=6000),
    avg=st.integers(min_value=7, max_value=14),
    min_exp=st.integers(min_value=6, max_value=10),
)
def test_native_fuzz_equals_scalar(data, avg, min_exp):
    params = sc.ChunkerParams(
        pol=TEST_POL, average_bits=avg, min_size=1 << min_exp, max_size=1 << 14
    )
    assert _native_chunks(data, params) == sc.chunk_list(data, params)


def test_native_batch_equals_numpy_batch():
    """chunk_many through the auto-discovered provider matches the numpy
    batched path on a mixed batch (empty / tiny / small / > 64 KiB)."""
    params = sc.ChunkerParams(pol=TEST_POL, average_bits=11, min_size=512, max_size=8192)
    bufs = [b"", b"tiny", bytes(get_random(3, 90_000))] + [
        bytes(get_random(s, 1000 + 613 * s)) for s in range(1, 40)
    ]
    native.set_provider(None)
    try:
        want = vec.chunk_many(bufs, params)
    finally:
        native.set_provider(_provider)
    try:
        got = vec.chunk_many(bufs, params)
    finally:
        native.set_provider(None)
    assert got == want


def test_native_autodiscovered(monkeypatch):
    """provider() builds and returns the C provider by default."""
    monkeypatch.setattr(native, "_provider", native._UNRESOLVED)
    assert native.provider() is not None


def test_native_throughput_floor():
    """Acceptance bar from VERDICT r4: >= 5x numpy single-core. Use a
    conservative absolute floor (numpy measures ~25 MB/s/core here; the
    C loop measures ~500+) so host noise can't flake the test."""
    import time

    data = bytes(get_random(23, 8 * 1024 * 1024))
    params = sc.ChunkerParams(pol=TEST_POL)
    _native_chunks(data, params)  # warm table build
    t0 = time.perf_counter()
    _native_chunks(data, params)
    dt = time.perf_counter() - t0
    assert len(data) / dt > 125e6, f"native kernel too slow: {len(data)/dt/1e6:.0f} MB/s"

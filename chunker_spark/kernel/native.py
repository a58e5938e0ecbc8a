"""Optional native CDC-kernel seam behind ``chunk_many``.

The numpy kernel runs ~23 MB/s/core on the batched small-document path
(BENCH/BASELINE.md "Reference kernel baseline"); native implementations
of this exact Rabin scheme (the reference is a port of restic's Go
chunker) run roughly 10x that per core. This seam closes that gap with
a compiled provider WITHOUT touching any Spark plumbing:
``vectorized.chunk_many`` consults the provider first and falls back to
numpy, so a missing provider changes nothing.

Since round 5 a provider ships in-tree: ``_native.c`` is compiled at
first use by ``native_cc.py`` with the host gcc (present in this
sandbox) and self-checked against the scalar oracle before activation.

Provider contract (duck-typed, validated by the injection test):

    chunk_many_raw(buffers: list[bytes], pol: int, average_bits: int,
                   min_size: int, max_size: int)
        -> list[list[tuple[int, int, int]]]   # (offset, length, cut)

per buffer, covering it exactly, bit-for-bit equal to the scalar oracle
(kernel/chunker.py) — the property tests that pin numpy against the
oracle are the acceptance bar for any native provider too.

Discovery order: an installed ``chunker_native`` module wins; else the
bundled C provider (gcc-compiled, self-checked); else None (numpy, the
fallback when no compiler is present). ``set_provider`` injects one
explicitly (tests, vendored builds); ``set_provider(None)`` forces the
numpy path.
"""

from __future__ import annotations

_UNRESOLVED = object()
_provider = _UNRESOLVED


def provider():
    """The active native provider module/object, or None (numpy path)."""
    global _provider
    if _provider is _UNRESOLVED:
        try:
            import chunker_native  # site-installed extension, if any

            _provider = chunker_native
        except ImportError:
            try:
                from . import native_cc

                _provider = native_cc.load()
            except Exception:
                _provider = None
    return _provider


def set_provider(mod) -> None:
    """Inject (or with None: clear) the native provider explicitly."""
    global _provider
    _provider = mod

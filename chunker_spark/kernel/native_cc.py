"""Bundled C provider for the ``chunk_many_raw`` seam (kernel/native.py).

Compiles ``_native.c`` at first import with the host C compiler
(``gcc -O3 -shared -fPIC``) into a content-addressed shared object under
the system temp dir, then exposes the provider contract through ctypes.
Everything degrades silently: no compiler / failed compile / failed
self-check -> ``load()`` returns None and ``chunk_many`` stays on the
numpy path.

Why this exists: the numpy kernel runs ~23-26 MB/s/core on the batched
small-document path; this scalar C loop (same recurrence as
rabin.d:218-239, two L1-resident 2 KiB tables, no window buffer) runs
two orders of magnitude faster per core, which moves the ingest
bottleneck from Python/numpy back to I/O where a native engine's sits.

Concurrency: Spark Python workers are separate processes that may import
simultaneously; each compiles to a private temp name and atomically
``os.replace``-renames onto the shared content-addressed path, so races
are benign. On a multi-node cluster every node compiles once (the .so is
keyed by source hash, not host) — or ship a prebuilt ``chunker_native``
module, which ``native.provider()`` prefers.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import shutil
import subprocess
import tempfile
from pathlib import Path

import numpy as np

_SRC = Path(__file__).with_name("_native.c")


def _compile() -> ctypes.CDLL | None:
    code = _SRC.read_bytes()
    tag = hashlib.sha256(code).hexdigest()[:16]
    so = Path(tempfile.gettempdir()) / f"chunker_native-{tag}.so"
    if not so.exists():
        cc = shutil.which("gcc") or shutil.which("cc")
        if cc is None:
            return None
        tmp = so.with_name(f"{so.name}.{os.getpid()}.tmp")
        try:
            r = subprocess.run(
                [cc, "-O3", "-shared", "-fPIC", "-o", str(tmp), str(_SRC)],
                capture_output=True,
                timeout=120,
            )
            if r.returncode != 0:
                return None
            os.replace(tmp, so)
        except Exception:
            return None
        finally:
            tmp.unlink(missing_ok=True)
    try:
        return ctypes.CDLL(str(so))
    except OSError:
        return None


class _CProvider:
    """chunk_many_raw provider backed by the compiled _native.c."""

    def __init__(self, lib: ctypes.CDLL) -> None:
        fn = lib.cdc_chunk_many
        fn.restype = ctypes.c_int64
        fn.argtypes = [
            ctypes.POINTER(ctypes.c_char_p),  # bufs
            ctypes.POINTER(ctypes.c_int64),  # lens
            ctypes.c_int64,  # nbufs
            ctypes.c_uint64,  # pol
            ctypes.c_int,  # average_bits
            ctypes.c_int64,  # min_size
            ctypes.c_int64,  # max_size
            ctypes.c_void_p,  # out_off
            ctypes.c_void_p,  # out_len
            ctypes.c_void_p,  # out_cut
            ctypes.c_void_p,  # counts
            ctypes.c_int64,  # cap
        ]
        self._fn = fn

    def chunk_many_raw(
        self,
        buffers: list[bytes],
        pol: int,
        average_bits: int,
        min_size: int,
        max_size: int,
    ) -> list[list[tuple[int, int, int]]]:
        n = len(buffers)
        if n == 0:
            return []
        lens = np.fromiter((len(b) for b in buffers), dtype=np.int64, count=n)
        # every chunk but a buffer's last is >= min_size long
        cap = int((lens // min_size).sum()) + n
        out_off = np.empty(cap, dtype=np.int64)
        out_len = np.empty(cap, dtype=np.int64)
        out_cut = np.empty(cap, dtype=np.uint64)
        counts = np.empty(n, dtype=np.int64)
        # c_char_p from bytes passes the object's internal buffer —
        # zero-copy; embedded NULs are fine (lengths travel separately)
        bufs = (ctypes.c_char_p * n)(*buffers)
        total = self._fn(
            bufs,
            lens.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
            n,
            pol,
            average_bits,
            min_size,
            max_size,
            out_off.ctypes.data,
            out_len.ctypes.data,
            out_cut.ctypes.data,
            counts.ctypes.data,
            cap,
        )
        if total < 0:
            raise RuntimeError(f"cdc_chunk_many failed (rc={total})")
        offs = out_off[:total].tolist()
        lns = out_len[:total].tolist()
        cuts = out_cut[:total].tolist()
        out: list[list[tuple[int, int, int]]] = []
        pos = 0
        for c in counts.tolist():
            out.append(list(zip(offs[pos : pos + c], lns[pos : pos + c], cuts[pos : pos + c])))
            pos += c
        return out


def _self_check(p: _CProvider) -> bool:
    """One deterministic buffer through C vs the scalar oracle — a
    botched build (wrong ABI, miscompile) falls back instead of
    corrupting data."""
    from .chunker import ChunkerParams, chunk_list
    from .gorng import get_random

    params = ChunkerParams(average_bits=9, min_size=256, max_size=4096)
    bufs = [bytes(get_random(7, 50_000)), b"", b"x"]
    want = [[(c.offset, c.length, c.cut) for c in chunk_list(b, params)] for b in bufs]
    got = p.chunk_many_raw(bufs, params.pol, 9, 256, 4096)
    return got == want


def load() -> _CProvider | None:
    """Compile (once), wrap, self-check; None on any failure."""
    lib = _compile()
    if lib is None:
        return None
    p = _CProvider(lib)
    try:
        if not _self_check(p):
            return None
    except Exception:
        return None
    return p

"""ctypes loader for the compiled tokenizer kernel (webx/_ctok.c).

The reference ships a compiled kernel for its one hot post-process loop
(mindocr/postprocess/pse/pse.pyx — Cython, built on first use); this is
the same move for our hot loop: the per-tag HTML lexer, ~60% of
extractor CPU at the CPython floor (PLANS.md). The C kernel mirrors
webx/tokenize.py bit-for-bit (tests/test_ctokenize.py fuzzes the two
against each other); ``tokenize_c`` returns the same ``Block`` list.

Build: compiled from source with gcc at import time when the shipped
``_ctok.so`` is missing or older than ``_ctok.c`` (each process compiles
to a pid-suffixed temp then atomically renames, so concurrent executors
never see a torn file). Any build/load failure leaves ``AVAILABLE =
False`` and callers fall back to the Python tokenizer — behavior, not
availability, is the invariant.

On a real multi-node cluster ship the .so via ``--py-files`` (it lives
inside the package directory) or let each executor build it once —
gcc is the only requirement.
"""

from __future__ import annotations

import ctypes
import os
import subprocess
from typing import List, Optional

from webx.tokenize import Block

_DIR = os.path.dirname(os.path.abspath(__file__))
_SRC = os.path.join(_DIR, "_ctok.c")
_SO = os.path.join(_DIR, "_ctok.so")


def _compile(src: str, so: str) -> str:
    tmp = f"{so}.tmp.{os.getpid()}"
    subprocess.run(
        # -ffp-contract=off pins acc += a*b to mulsd/addsd (no FMA
        # fusion): wx_detect_final's span-score fold must round exactly
        # like webx.detect.weighted_mean's separate multiply and add
        ["gcc", "-O2", "-ffp-contract=off", "-fPIC", "-shared", "-o", tmp, src],
        check=True,
        capture_output=True,
    )
    os.replace(tmp, so)  # atomic: concurrent builders race benignly
    return so


def _ensure_built() -> str:
    if os.path.isfile(_SRC):
        # normal checkout: build next to the source when stale
        if os.path.exists(_SO) and os.path.getmtime(_SO) >= os.path.getmtime(_SRC):
            return _SO
        try:
            return _compile(_SRC, _SO)
        except OSError:
            pass  # read-only package dir (shared cluster FS): cache path below
    # zipimport (spark-submit --py-files webx.zip) or unwritable package
    # dir: materialize the source into a content-hash-keyed temp cache
    # and build there — every executor converges on the same .so.
    import hashlib
    import importlib.resources as res
    import tempfile

    data = res.files("webx").joinpath("_ctok.c").read_bytes()
    key = hashlib.sha256(data).hexdigest()[:16]
    cachedir = os.path.join(tempfile.gettempdir(), "webx_ctok")
    os.makedirs(cachedir, exist_ok=True)
    so = os.path.join(cachedir, f"_ctok_{key}.so")
    if os.path.exists(so):
        return so
    src = os.path.join(cachedir, f"_ctok_{key}.c")
    if not os.path.exists(src):
        tmps = f"{src}.tmp.{os.getpid()}"
        with open(tmps, "wb") as f:
            f.write(data)
        os.replace(tmps, src)
    return _compile(src, so)


_lib: Optional[ctypes.CDLL] = None
try:
    _lib = ctypes.CDLL(_ensure_built())
    _lib.wx_tokenize.restype = ctypes.POINTER(ctypes.c_int64)
    _lib.wx_tokenize.argtypes = [
        ctypes.c_char_p,
        ctypes.c_long,
        ctypes.POINTER(ctypes.c_long),
    ]
    _lib.wx_free.restype = None
    _lib.wx_free.argtypes = [ctypes.POINTER(ctypes.c_int64)]
    _lib.wx_strip.restype = ctypes.POINTER(ctypes.c_uint8)
    _lib.wx_strip.argtypes = [
        ctypes.c_char_p,
        ctypes.c_long,
        ctypes.POINTER(ctypes.c_long),
    ]
    _lib.wx_free_bytes.restype = None
    _lib.wx_free_bytes.argtypes = [ctypes.POINTER(ctypes.c_uint8)]
    _lib.wx_detect.restype = ctypes.POINTER(ctypes.c_int64)
    _lib.wx_detect.argtypes = [
        ctypes.c_char_p,
        ctypes.c_long,
        ctypes.c_double,
        ctypes.c_double,
        ctypes.c_long,
        ctypes.c_double,                    # rescue_thresh
        ctypes.c_long,                      # rescue_max_chars
        ctypes.POINTER(ctypes.c_long),
    ]
    _lib.wx_strip_norm.restype = ctypes.POINTER(ctypes.c_uint8)
    _lib.wx_strip_norm.argtypes = [
        ctypes.c_char_p,
        ctypes.c_long,
        ctypes.POINTER(ctypes.c_long),
        ctypes.POINTER(ctypes.c_long),
    ]
    _lib.wx_detect_final.restype = ctypes.POINTER(ctypes.c_int64)
    _lib.wx_detect_final.argtypes = [
        ctypes.c_char_p,
        ctypes.c_long,
        ctypes.c_double,
        ctypes.c_double,
        ctypes.c_long,
        ctypes.c_double,
        ctypes.c_long,
        ctypes.c_long,
        ctypes.c_double,
        ctypes.c_double,                    # rescue_thresh
        ctypes.c_long,                      # rescue_max_chars
        ctypes.POINTER(ctypes.c_long),
    ]
    _i32p = ctypes.POINTER(ctypes.c_int32)
    _lib.wx_ac_find.restype = ctypes.c_long
    _lib.wx_ac_find.argtypes = [
        ctypes.c_char_p,
        ctypes.c_long,
        _i32p, _i32p,                       # ebase, ecnt
        ctypes.c_char_p, _i32p,             # ebyte, enext
        _i32p,                              # fail
        _i32p, _i32p, _i32p,                # obase, ocnt, oids
        ctypes.POINTER(ctypes.c_uint8),     # hits
    ]
except Exception:  # no gcc / bad toolchain: Python path carries on
    _lib = None

AVAILABLE = _lib is not None


def tokenize_c(html: bytes) -> List[Block]:
    """Drop-in replacement for webx.tokenize.tokenize (C kernel)."""
    cnt = ctypes.c_long()
    ptr = _lib.wx_tokenize(html, len(html), ctypes.byref(cnt))
    if not ptr:
        raise MemoryError("wx_tokenize allocation failure")
    try:
        k = cnt.value
        flat = ptr[: k * 7]  # one bulk ctypes read
        return [
            Block(
                flat[i],
                flat[i + 1],
                flat[i + 2],
                flat[i + 3],
                flat[i + 4],
                bool(flat[i + 5]),
                bool(flat[i + 6]),
            )
            for i in range(0, k * 7, 7)
        ]
    finally:
        _lib.wx_free(ptr)


def tokenize_table(html: bytes):
    """Block table as 7 numpy columns (start, end, tlen, link_tlen,
    tag_cnt, heading, boiler) — the zero-namedtuple fast path the
    extractor consumes (one bulk copy out of the C buffer)."""
    import numpy as np

    cnt = ctypes.c_long()
    ptr = _lib.wx_tokenize(html, len(html), ctypes.byref(cnt))
    if not ptr:
        raise MemoryError("wx_tokenize allocation failure")
    try:
        k = cnt.value
        arr = (
            np.ctypeslib.as_array(ptr, shape=(k, 7)).copy()
            if k
            else np.empty((0, 7), dtype=np.int64)
        )
    finally:
        _lib.wx_free(ptr)
    return (
        arr[:, 0],
        arr[:, 1],
        arr[:, 2],
        arr[:, 3],
        arr[:, 4],
        arr[:, 5] != 0,
        arr[:, 6] != 0,
    )


def detect_table(
    html: bytes,
    tag_weight: float,
    binary_thresh: float,
    min_block_chars: int,
    rescue_thresh: float = 0.0,
    rescue_max_chars: int = 0,
):
    """Fused stage-1: tokenize + block scores + candidate-run boundaries
    in ONE C call and ONE copy out (packed int64 buffer → frombuffer →
    views). Returns (start, end, tlen, heading, scores, runs) numpy
    views; runs is (r, 2) (first, last) block indices for
    webx.detect._finalize_runs. The extractor itself runs
    ``detect_final``, which also finalizes in C."""
    import numpy as np

    out_len = ctypes.c_long()
    ptr = _lib.wx_detect(
        html, len(html), tag_weight, binary_thresh, min_block_chars,
        rescue_thresh, rescue_max_chars, ctypes.byref(out_len),
    )
    if not ptr:
        raise MemoryError("wx_detect allocation failure")
    try:
        a = np.frombuffer(
            ctypes.string_at(ptr, out_len.value * 8), dtype=np.int64
        )
    finally:
        _lib.wx_free(ptr)
    k = int(a[0])
    r = int(a[1])
    start = a[2 : 2 + k]
    end = a[2 + k : 2 + 2 * k]
    tlen = a[2 + 2 * k : 2 + 3 * k]
    heading = a[2 + 3 * k : 2 + 4 * k] != 0
    runs = a[2 + 4 * k : 2 + 4 * k + 2 * r].reshape(r, 2)
    scores = a[2 + 4 * k + 2 * r :].view(np.float64)
    return start, end, tlen, heading, scores, runs


def detect_final(
    html: bytes,
    tag_weight: float,
    binary_thresh: float,
    min_block_chars: int,
    box_thresh: float,
    min_span_chars: int,
    max_candidates: int,
    expand_ratio: float,
    rescue_thresh: float = 0.0,
    rescue_max_chars: int = 0,
):
    """FULLY-fused stage-1 (wx_detect_final): detect + finalize +
    expand + validate in one C call, for every document. Returns

      ("final", n_blocks, start, end, first, last, head_all, score)

    where the span columns are plain Python lists (spans per document
    are few — ctypes bulk slicing beats a bytes->numpy round trip by
    ~4 µs per call). Span scores are bit-identical to the Python
    reference (webx.detect._finalize_runs): both run the
    ``weighted_mean`` fold."""
    out_len = ctypes.c_long()
    ptr = _lib.wx_detect_final(
        html, len(html), tag_weight, binary_thresh, min_block_chars,
        box_thresh, min_span_chars, max_candidates, expand_ratio,
        rescue_thresh, rescue_max_chars, ctypes.byref(out_len),
    )
    if not ptr:
        raise MemoryError("wx_detect_final allocation failure")
    try:
        m = ptr[0]
        n_blocks = ptr[1]
        if m == 0:
            return "final", n_blocks, (), (), (), (), (), ()
        cap = (out_len.value - 2) // 6  # column stride (>= m)
        cols = ptr[2 : 2 + 5 * cap]  # one bulk int read of 5 columns
        scores = ctypes.cast(ptr, ctypes.POINTER(ctypes.c_double))[
            2 + 5 * cap : 2 + 5 * cap + m
        ]
    finally:
        _lib.wx_free(ptr)
    return (
        "final",
        n_blocks,
        cols[:m],
        cols[cap : cap + m],
        cols[2 * cap : 2 * cap + m],
        cols[3 * cap : 3 * cap + m],
        cols[4 * cap : 4 * cap + m],
        scores,
    )


def strip_norm_c(raw: bytes):
    """Fused stage-2 strip + full text normalization (wx_strip_norm).
    Returns (out_bytes, ok): ok=True means out_bytes IS the final
    normalized text (pure-ASCII, entity-free span — decode with any
    ASCII-compatible charset and you have decode_span's result); ok=False
    means out_bytes is exactly strip_markup's output and the caller
    finishes with the reference Python normalization."""
    out_n = ctypes.c_long()
    ok = ctypes.c_long()
    ptr = _lib.wx_strip_norm(raw, len(raw), ctypes.byref(out_n), ctypes.byref(ok))
    if not ptr:
        raise MemoryError("wx_strip_norm allocation failure")
    try:
        return ctypes.string_at(ptr, out_n.value), bool(ok.value)
    finally:
        _lib.wx_free_bytes(ptr)


def strip_markup_c(raw: bytes) -> bytes:
    """Drop-in replacement for webx.recognize.strip_markup (C kernel:
    the four regex passes as four memchr scans)."""
    out_n = ctypes.c_long()
    ptr = _lib.wx_strip(raw, len(raw), ctypes.byref(out_n))
    if not ptr:
        raise MemoryError("wx_strip allocation failure")
    try:
        return ctypes.string_at(ptr, out_n.value)
    finally:
        _lib.wx_free_bytes(ptr)

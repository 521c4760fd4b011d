"""ctypes loader for the compiled extraction kernels (webx/_ctok.c).

The reference ships a compiled kernel for its one hot post-process loop
(mindocr/postprocess/pse/pse.pyx — Cython, built on first use); this is
the same move for our hot loops: the per-tag HTML lexer, the stage-1
span finalization and the stage-2 markup strip + normalization. Each
mirrors its Python reference bit for bit (tests/test_ctokenize.py fuzzes
them against each other).

The extractor crosses ctypes once per Arrow batch, not per document:
wx_extract_batch takes every document of the batch as one
pointer/length array over the documents' own bytes (an Arrow column's
data buffer, or bytes objects). ``extract_rows`` runs the document
front, both stages and the final row of each page and hands back numpy
views over the kernel's one buffer, which the extractor wraps as Arrow
arrays without a copy. ``extract_spans`` runs stage 1 and the stage-2
fast path over each kept span and hands back flat columns read once —
span bounds, scores, kinds, first/last block, ``n_blocks`` per
document, the stage-2 bytes with their offsets and a done code per
span. ``detect_final`` and ``strip_norm_spans``, the per-document forms
the other lanes use, go through the same entry, so C holds one
implementation of each stage.

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
from functools import lru_cache
from typing import List, NamedTuple, Optional

from webx.tokenize import Block

_DIR = os.path.dirname(os.path.abspath(__file__))
_SRC = os.path.join(_DIR, "_ctok.c")
_SO = os.path.join(_DIR, "_ctok.so")


def _compile(src: str, so: str) -> str:
    tmp = f"{so}.tmp.{os.getpid()}"
    subprocess.run(
        # -ffp-contract=off pins acc += a*b to mulsd/addsd (no FMA
        # fusion): detect_final_doc's span-score fold must round exactly
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


class _Params(ctypes.Structure):
    """webx/_ctok.c wxparams: the extraction parameters, passed by
    pointer (one argument instead of ten converted on every call)."""

    _fields_ = [
        ("tag_weight", ctypes.c_double),
        ("binary_thresh", ctypes.c_double),
        ("min_block_chars", ctypes.c_long),
        ("box_thresh", ctypes.c_double),
        ("min_span_chars", ctypes.c_long),
        ("max_candidates", ctypes.c_long),
        ("expand_ratio", ctypes.c_double),
        ("rescue_thresh", ctypes.c_double),
        ("rescue_max_chars", ctypes.c_long),
        ("drop_score", ctypes.c_double),
        ("limit_side_len", ctypes.c_long),
        ("default_utf8", ctypes.c_long),
        ("join_sep", ctypes.c_char_p),
        ("join_len", ctypes.c_long),
    ]


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
    _lib.wx_free_bytes.argtypes = [ctypes.c_void_p]
    # a read-only memoryview over the kernel's output, no copy
    _view = ctypes.pythonapi.PyMemoryView_FromMemory
    _view.restype = ctypes.py_object
    _view.argtypes = [ctypes.c_void_p, ctypes.c_ssize_t, ctypes.c_int]
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
    _lib.wx_extract_batch.restype = ctypes.c_void_p
    # void* for the arrays and the parameter block: the cheapest
    # conversions ctypes makes (a batch of one pays them per span)
    _lib.wx_extract_batch.argtypes = [
        ctypes.c_void_p,                    # docs: c_char_p array
        ctypes.c_void_p,                    # lens: c_long array
        ctypes.c_char_p,                    # modes
        ctypes.c_long,                      # n_docs
        ctypes.c_void_p,                    # byref(_Params)
        ctypes.POINTER(ctypes.c_long),      # out_bytes
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


# the per-document work wx_extract_batch does (webx/_ctok.c)
S1, S1_S2, S2, ROW = 0, 1, 2, 3
# a span's stage-2 outcome (0: not run): final text, stripped bytes only
DONE, STRIPPED = 1, 2
# S2 runs no stage 1: its parameters are never read
_S2 = _Params()


class BatchSpans(NamedTuple):
    """wx_extract_batch's flat columns, read once per batch. Document
    ``d`` owns spans ``span_off[d]:span_off[d + 1]``; ``text[j]`` is
    span ``j``'s stage-2 output: the final text (str) when ``code[j]``
    is DONE, strip_markup's output (bytes) when STRIPPED, else None."""

    n_blocks: list
    span_off: list
    start: list
    end: list
    first: list
    last: list
    head: list
    code: list
    score: list
    text: list


@lru_cache(maxsize=16)
def params(*values) -> _Params:
    """The parameter block extract_spans takes, from values in
    ``_Params`` field order (built once per parameter set)."""
    return _Params(*values)


_PYBUF_READ = 0x100  # CPython's PyBUF_READ: the view is read-only


def _run(htmls, modes: bytes, p: _Params, read):
    """One wx_extract_batch call. ``read(view)`` builds Python objects
    from the output buffer (see webx/_ctok.c); ``view`` is a memoryview
    over the kernel's memory, valid only while ``read`` runs."""
    n = len(htmls)
    size = ctypes.c_long()
    addr = _lib.wx_extract_batch(
        (ctypes.c_char_p * n)(*htmls), (ctypes.c_long * n)(*map(len, htmls)),
        modes, n, ctypes.byref(p), ctypes.byref(size),
    )
    if not addr:
        raise MemoryError("wx_extract_batch allocation failure")
    try:
        view = _view(addr, size.value, _PYBUF_READ)
        try:
            return read(view)
        finally:
            view.release()  # BufferError if a slice of it escaped
    finally:
        _lib.wx_free_bytes(addr)


def _columns(view: memoryview, n: int):
    """(int slots, span scores) of an n-document output buffer."""
    m = view[:8].cast("q")[0]
    n_ints = 4 + 2 * n + 7 * m
    return (
        view[: 8 * n_ints].cast("q").tolist(),
        view[8 * n_ints : 8 * (n_ints + m)].cast("d").tolist(),
    )


def extract_spans(htmls, modes: bytes, p: _Params) -> BatchSpans:
    """Stage 1 and the stage-2 fast path over a whole batch in ONE C
    call (wx_extract_batch). ``htmls`` are bytes objects, passed as one
    pointer/length array (the kernel reads their own buffers);
    ``modes[d]`` is S1, S1_S2 or S2 for document ``d``; ``p`` comes from
    ``params``. Span scores are bit-identical to the Python reference
    (webx.detect._finalize_runs): both run the ``weighted_mean`` fold."""
    n = len(htmls)

    def read(view):
        ints, scores = _columns(view, n)
        m = len(scores)
        c = 3 + 2 * n  # first span column
        cols = [ints[c + i * m : c + (i + 1) * m] for i in range(6)]
        toff = ints[c + 6 * m :]
        text = [
            str(view[a:b], "ascii") if k == DONE
            else bytes(view[a:b]) if k == STRIPPED else None
            for k, a, b in zip(cols[5], toff, toff[1:])
        ]
        return BatchSpans(ints[2 : 2 + n], ints[2 + n : c], *cols, scores, text)

    return _run(htmls, modes, p, read)


class _Owner:
    """Frees a wx_extract_batch buffer when the last view over it goes."""

    __slots__ = ("addr", "free")

    def __init__(self, addr: int):
        self.addr, self.free = addr, _lib.wx_free_bytes

    def __del__(self):
        self.free(self.addr)


class BatchRows(NamedTuple):
    """wx_extract_batch's WX_ROW output for n documents: numpy views
    over the kernel's one buffer, which stays alive while any of them
    does (nothing is copied). ``done[d]`` marks a document whose row is
    final; its output rows are spans ``span_off[d]:span_off[d + 1]``, and
    its joined text ``joined[joff[d] - joff[0]:joff[d + 1] - joff[0]]``.
    Span ``j``'s text is ``text[toff[j] - toff[0]:toff[j + 1] - toff[0]]``.
    A document that is not done has no spans and an empty text."""

    done: "np.ndarray"
    n_blocks: "np.ndarray"
    span_off: "np.ndarray"
    start: "np.ndarray"
    end: "np.ndarray"
    head: "np.ndarray"
    score: "np.ndarray"
    toff: "np.ndarray"
    text: "np.ndarray"
    conf: "np.ndarray"
    joff: "np.ndarray"
    joined: "np.ndarray"


def extract_rows(addrs, lens, p: _Params) -> BatchRows:
    """The document front, both stages and the final row of every
    document of a batch in ONE C call (wx_extract_batch, WX_ROW mode).
    ``addrs``/``lens`` are int64 numpy arrays: each document's address
    and length (an Arrow binary column's data plus its offsets; length 0
    for a page the kernel must leave to the Python path)."""
    import numpy as np
    import pyarrow as pa

    n = len(lens)
    size = ctypes.c_long()
    addr = _lib.wx_extract_batch(
        addrs.ctypes.data, lens.ctypes.data, bytes((ROW,)) * n, n,
        ctypes.byref(p), ctypes.byref(size),
    )
    if not addr:
        raise MemoryError("wx_extract_batch allocation failure")
    buf = np.frombuffer(
        pa.foreign_buffer(addr, size.value, base=_Owner(addr)), dtype=np.uint8
    )
    m = int(buf[:8].view(np.int64)[0])
    c = 3 + 2 * n  # first span column
    ints = buf[: 8 * (c + 8 * m + 2 + 3 * n)].view(np.int64)
    reals = ints.view(np.float64)
    toff = ints[c + 6 * m : c + 7 * m + 1]
    s = c + 7 * m + 1  # first double
    joff = ints[s + m + 2 * n : s + m + 3 * n + 1]
    return BatchRows(
        ints[s + m + n : s + m + 2 * n] != 0, ints[2 : 2 + n], ints[2 + n : c],
        ints[c : c + m], ints[c + m : c + 2 * m], ints[c + 4 * m : c + 5 * m],
        reals[s : s + m], toff, buf[toff[0] : toff[-1]],
        reals[s + m : s + m + n], joff, buf[joff[0] : joff[-1]],
    )


_ONE_S1 = bytes((S1,))


def _stage2(n: int):
    """Reader of an S2 batch of n spans: one (out_bytes, ok) per span."""
    c = 3 + 2 * n  # first span column; under S2 span j is document j

    def read(view):
        ints = view[8 * (c + 5 * n) : 8 * (c + 7 * n + 1)].cast("q").tolist()
        return [(bytes(view[a:b]), k == DONE)
                for k, a, b in zip(ints[:n], ints[n:], ints[n + 1:])]

    return read


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
    """Stage 1 of one document: a batch of one through wx_extract_batch
    (detect + finalize + expand + validate). Returns

      ("final", n_blocks, start, end, first, last, head_all, score)

    with the span columns as plain lists."""
    ints, scores = _run((html,), _ONE_S1, params(
        tag_weight, binary_thresh, min_block_chars, box_thresh,
        min_span_chars, max_candidates, expand_ratio, rescue_thresh,
        rescue_max_chars, 0.0,
    ), lambda view: _columns(view, 1))
    m = len(scores)
    return ("final", ints[2], ints[5 : 5 + m], ints[5 + m : 5 + 2 * m],
            ints[5 + 2 * m : 5 + 3 * m], ints[5 + 3 * m : 5 + 4 * m],
            ints[5 + 4 * m : 5 + 5 * m], scores)


def strip_norm_spans(raws) -> list:
    """Stage-2 fast path over many spans in ONE wx_extract_batch call,
    each span a document of its own (S2). Returns one (out_bytes, ok)
    per span: ok=True means out_bytes IS the final normalized text
    (pure-ASCII, entity-free span — decode with any ASCII-compatible
    charset and you have decode_span's result); ok=False means out_bytes
    is exactly strip_markup's output and the caller finishes with the
    reference Python normalization."""
    n = len(raws)
    return _run(raws, bytes((S2,)) * n, _S2, _stage2(n))


def strip_norm_c(raw: bytes):
    """``strip_norm_spans`` over one span: (out_bytes, ok)."""
    return strip_norm_spans((raw,))[0]


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

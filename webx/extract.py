"""The fused two-stage extractor as an Arrow-batched ``mapInArrow`` op.

One pass over each Arrow batch, Arrow in and Arrow out: ONE C call
(webx/_ctok.c wx_extract_batch) runs, for every document of the batch,
the document front's utf-8 fast path, stage 1 — tokenize, block scores,
runs, finalize, expand, validate — the stage-2 fast path over each kept
span and the final row (the batch = the reference's tensor batch,
mindocr/data/builder.py:154-161). A page it finishes whole never becomes
a Python object: its columns are Arrow arrays over the kernel's buffer.
Stage boundaries are columnar hand-offs inside the same batch — the
Spark recast of predict_system.py's det → crop → rec → merge loop
(tools/infer/text/predict_system.py:45-117).

Every other page, and every page of the other HTML lanes (detect,
interleave, comments, markdown, tables), goes through the same three
batch steps: ``_doc_front`` per document (normalize, truncate, sniff,
decode), then ONE stage-1 entry for the whole batch (``_stage1``: one
kernel call, optionally with the stage-2 fast path) and ONE stage-2
entry for the spans it left (``_decode_spans``: one kernel call over
all of them). ``ckernels="off"`` runs the Python reference behind the
same two entries. The flagship's rows merge back in input order.

Also exposes the stages separately (``detect_batch`` / parity with
save_det_res / save_rec_res debug sinks, tools/infer/text/predict_det.py:190-201).
"""

from __future__ import annotations

import re as _re
import unicodedata as _unicodedata
from typing import Iterable, Iterator, List, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from functools import lru_cache

from webx.charset import (
    decode_bytes,
    normalize_charset_name,
    normalize_input_bytes,
    sniff_charset,
)
from webx.config import ExtractConfig
# _finalize_runs is reached only through merge_runs_table here; it stays
# importable from this module because perfbench/spans.py traces the
# stage-1 layers by name on webx.extract.
from webx.detect import (  # noqa: F401
    Span,
    _finalize_runs,
    block_scores,
    expand_spans,
    merge_runs_table,
    validate_spans,
    weighted_mean,
)
from webx.recognize import (
    _charset_decode,
    decode_span,
    decode_span_pre,
    decode_span_rawkept,
    decode_stripped,
    has_rawkept,
    is_ascii_compatible,
    pre_regions,
)
from webx.tokenize import tokenize


def _resolve_kernel(mode: str, py_fn, c_name: str):
    """cfg.ckernels → callable. "auto" prefers the compiled C kernel
    (bit-identical; tests/test_ctokenize.py) and falls back to Python;
    "require" demands it; "off" pins the reference implementation."""
    if mode == "off":
        return py_fn
    if mode in ("auto", "require"):
        try:
            import webx.ctokenize as ck

            c_fn, avail = getattr(ck, c_name), ck.AVAILABLE
        except Exception:
            c_fn, avail = None, False
        if avail:
            return c_fn
        if mode == "require":
            raise RuntimeError("ckernels='require' but the C kernel failed to build/load")
        return py_fn
    raise ValueError(f"unknown ckernels mode {mode!r} (expected auto|require|off)")


@lru_cache(maxsize=4)
def resolve_tokenizer(mode: str):
    return _resolve_kernel(mode, tokenize, "tokenize_c")


def _tokenize_table_py(html: bytes):
    """Block table columns from the Python tokenizer (reference path)."""
    blocks = tokenize(html)
    n = len(blocks)
    if n == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, e, e, e, np.empty(0, dtype=bool), np.empty(0, dtype=bool)
    s_c, e_c, tl_c, link_c, tag_c, hd_c, boiler_c = zip(*blocks)
    return (
        np.array(s_c, dtype=np.int64),
        np.array(e_c, dtype=np.int64),
        np.array(tl_c, dtype=np.int64),
        np.array(link_c, dtype=np.int64),
        np.array(tag_c, dtype=np.int64),
        np.array(hd_c, dtype=bool),
        np.array(boiler_c, dtype=bool),
    )


@lru_cache(maxsize=4)
def resolve_strip(mode: str):
    from webx.recognize import strip_markup

    return _resolve_kernel(mode, strip_markup, "strip_markup_c")


@lru_cache(maxsize=4)
def resolve_strip_norm(mode: str):
    """Fused stage-2 strip + normalize kernel over a batch's spans
    (ck.strip_norm_spans: one wx_extract_batch call, each span a
    document of its own) or None. Only pure-ASCII, entity-free spans
    normalize fully in C (the byte ops commute with any
    ASCII-compatible decode); other spans come back merely stripped
    with ok=False and finish on the reference Python path
    (webx.recognize.decode_stripped). No Python twin."""
    if mode == "off":
        return None
    return _resolve_kernel(mode, None, "strip_norm_spans")


@lru_cache(maxsize=4)
def resolve_extract_spans(mode: str):
    """The batch kernel (wx_extract_batch: stage 1 and the stage-2 fast
    path over every document of a batch in one C call) or None. No
    Python twin: None routes ``_stage1`` to the per-document reference
    composition (``_extract_doc_stage1``), which computes the same
    bits."""
    if mode == "off":
        return None
    return _resolve_kernel(mode, None, "extract_spans")


# No lane calls these three: every stage runs through the batch entry
# (resolve_extract_spans). They stay because perfbench/spans.py clears
# each resolver's cache by name.
@lru_cache(maxsize=4)
def resolve_tokenize_table(mode: str):
    return _resolve_kernel(mode, _tokenize_table_py, "tokenize_table")


@lru_cache(maxsize=4)
def resolve_detect_final(mode: str):
    return None if mode == "off" else _resolve_kernel(mode, None, "detect_final")


@lru_cache(maxsize=4)
def resolve_detect_table(mode: str):
    return None if mode == "off" else _resolve_kernel(mode, None, "detect_table")


def _extract_doc_stage1(
    html: bytes, cfg: ExtractConfig, heading_split: bool = False
) -> Tuple[int, List[Span]]:
    """Stage 1 of one document's front bytes (``_doc_front``) on the
    Python reference path — tokenize, block scores, runs, finalize,
    expand, validate — which ``_stage1`` runs when the C kernel is off
    or missing; the kernel computes the same bits. ``heading_split`` is
    markdown's run rule (webx.detect.merge_runs_table). Returns
    (n_blocks, spans)."""
    start, end, tlen, link, tags, heading, boiler = _tokenize_table_py(html)
    n_blocks = len(tlen)
    if not n_blocks:
        return 0, []
    scores = block_scores(tlen, link, tags, boiler, cfg)
    runs = merge_runs_table(start, end, tlen, heading, scores, cfg, link=link,
                            heading_split=heading_split)
    return n_blocks, validate_spans(expand_spans(html, runs, cfg.expand_ratio), len(html))


def _span_texts(docs: list, cfg: ExtractConfig) -> list:
    """Stage 2 of a batch's spans: ``docs`` holds per document (html,
    [(start, end)], charset) → per document the spans' texts. A span
    holding an <xmp>/<plaintext> open, or overlapping a <pre>/<listing>
    region, decodes on the reference Python path. With the C kernel,
    every other span of an ASCII-compatible page goes through ONE
    kernel call for the whole batch (resolve_strip_norm); otherwise
    ``strip`` strips before the Python decode."""
    kernel = resolve_strip_norm(cfg.ckernels)
    strip = resolve_strip(cfg.ckernels)
    out, fast = [], []
    for html, bounds, charset in docs:
        texts: list = [None] * len(bounds)
        out.append(texts)
        if not bounds:
            continue
        c_ok = kernel is not None and is_ascii_compatible(charset)
        # <pre>/<listing> content ranges, once per document (cheap probe
        # inside): spans overlapping one preserve its whitespace
        preserved = pre_regions(html)
        for i, (start, end) in enumerate(bounds):
            raw = html[start:end]
            if has_rawkept(raw):
                # <xmp>/<plaintext> region inside the span (1996-era rare):
                # literal-text decode on the reference Python path
                texts[i] = decode_span_rawkept(raw, charset)
            elif preserved and any(rs < end and re_ > start for rs, re_ in preserved):
                texts[i] = decode_span_pre(raw, charset, start, preserved, strip)
            elif c_ok:
                fast.append((texts, i, charset, raw))
            else:
                texts[i] = decode_span(raw, charset, strip)
    if fast:
        for (texts, i, charset, _), (o, done) in zip(
            fast, kernel([raw for _, _, _, raw in fast])
        ):
            # done: o IS the normalized text (pure ASCII under an
            # ASCII-compatible charset — also x-user-defined, which has
            # no stdlib codec); else o is the stripped bytes — finish on
            # the reference Python path
            texts[i] = o.decode("ascii") if done else decode_stripped(o, charset)
    return out


def _add_row(rows: List[dict], start, end, score, kind, text, cfg) -> None:
    if not text:
        return
    if cfg.nfc and not text.isascii():  # ASCII is NFC-invariant
        text = _unicodedata.normalize("NFC", text)
    rows.append(
        {"start": start, "end": end, "score": score, "kind": kind, "text": text}
    )


def _fold(rows: List[dict], cfg: ExtractConfig) -> Tuple[List[dict], str, float]:
    """(rows, joined text, conf); conf is the text-length weighted mean
    span score."""
    texts = [r["text"] for r in rows]
    conf = weighted_mean([r["score"] for r in rows], list(map(len, texts)))
    return rows, cfg.join_sep.join(texts), conf


def _decode_spans(
    fronts: list, spans: list, texts: list, cfg: ExtractConfig
) -> List[Tuple[List[dict], str, float]]:
    """Stage 2 of a batch, the one every HTML lane calls: per document
    (``fronts[d]`` from ``_doc_front``), the spans ``spans[d]`` with
    score >= drop_score (predict_system.py:92-100) become rows. A span
    whose text stage 1 already finished (``texts[d][j]``, see
    ``_stage1``) keeps it; the rest decode through ONE ``_span_texts``
    call for the whole batch. Returns one (span_rows, joined_text, conf)
    per document."""
    drop = cfg.drop_score
    kept = [
        [(s, t) for s, t in zip(doc, doc_texts) if s.score >= drop]
        for doc, doc_texts in zip(spans, texts)
    ]
    left = _span_texts([
        (html, [(s.start, s.end) for s, t in doc if t is None], meta["charset"])
        for (html, meta, _), doc in zip(fronts, kept)
    ], cfg)
    res = []
    for doc, doc_left in zip(kept, left):
        doc_left = iter(doc_left)
        rows: List[dict] = []
        for s, t in doc:
            _add_row(rows, s.start, s.end, s.score, s.kind,
                     next(doc_left) if t is None else t, cfg)
        res.append(_fold(rows, cfg))
    return res


def _kernel_params(cfg: ExtractConfig, heading_split: bool = False):
    from webx.ctokenize import params

    sep = cfg.join_sep.encode("utf-8")
    return params(
        cfg.tag_weight, cfg.binary_thresh, cfg.min_block_chars,
        cfg.box_thresh, cfg.min_span_chars, cfg.max_candidates,
        cfg.expand_ratio, cfg.rescue_thresh, cfg.rescue_max_chars,
        cfg.drop_score, cfg.limit_side_len, cfg.default_charset == "utf-8",
        sep, len(sep), heading_split,
    )


def _stage1(
    fronts: list, cfg: ExtractConfig, decode: bool = False, heading_split: bool = False
) -> Tuple[List[List[Span]], list]:
    """Stage 1 of a batch, the one every HTML lane calls: over each
    document front (``_doc_front``'s (html, meta, status)) → (spans,
    texts), one list per document, and each front's ``meta["n_blocks"]``
    filled. With the C kernel it is ONE ck.extract_spans call; under
    ``decode`` an ASCII-compatible page also runs the stage-2 fast path
    over its kept spans in that call, and ``texts[d][j]`` is span j's
    final text, or None where stage 2 is left to ``_decode_spans``.
    Without the kernel each front runs the reference
    ``_extract_doc_stage1`` and every text is None. ``heading_split``
    is markdown's run rule (webx.detect.merge_runs_table)."""
    spans: List[List[Span]] = []
    texts: list = []
    kernel = resolve_extract_spans(cfg.ckernels)
    if kernel is None:
        for html, meta, _ in fronts:
            meta["n_blocks"], doc = _extract_doc_stage1(html, cfg, heading_split)
            spans.append(doc)
            texts.append([None] * len(doc))
        return spans, texts
    from webx.ctokenize import DONE, S1, S1_S2, STRIPPED

    b = kernel(
        [html for html, _, _ in fronts],
        bytes(
            S1_S2 if decode and is_ascii_compatible(meta["charset"]) else S1
            for _, meta, _ in fronts
        ),
        _kernel_params(cfg, heading_split),
    )
    start, end, first, last, head, code, score, out = (
        b.start, b.end, b.first, b.last, b.head, b.code, b.score, b.text
    )
    for (_, meta, _), n_blocks, j0, j1 in zip(
        fronts, b.n_blocks, b.span_off, b.span_off[1:]
    ):
        meta["n_blocks"] = n_blocks
        charset = meta["charset"]
        spans.append([
            Span(start[j], end[j], score[j], "heading" if head[j] else "content",
                 first[j], last[j])
            for j in range(j0, j1)
        ])
        texts.append([
            out[j] if code[j] == DONE
            else decode_stripped(out[j], charset) if code[j] == STRIPPED
            else None
            for j in range(j0, j1)
        ])
    return spans, texts


def _decode_batch(fronts: list, cfg: ExtractConfig, heading_split: bool = False) -> list:
    """Both stages over every document front of a batch: ``_stage1``
    with the stage-2 fast path, then ``_decode_spans`` for what it left
    — a constant number of kernel calls per batch. Returns one
    ``(rows, joined, conf)`` per document."""
    spans, texts = _stage1(fronts, cfg, True, heading_split)
    return _decode_spans(fronts, spans, texts, cfg)


def _doc_front(raw, hint, cfg: ExtractConfig) -> Tuple[bytes, dict, str]:
    """The one per-document front of every HTML lane (flagship,
    interleave, detect, comments, markdown, tables): input
    normalization, truncation, charset sniff, header hint and one strict
    decode. ``hint`` is the row's HTTP-header charset or None (see
    extract_batch for precedence). Returns (html, meta, charset status):
    ``html`` is the normalized, truncated bytes every span offset
    indexes, ``meta["charset"]`` is the EFFECTIVE codec — the one spans
    decode with, so a misdeclared page cannot decode as mojibake while
    its status says fallback — and ``meta["n_blocks"]`` is left for
    stage 1. A NULL or empty page is status ``empty``."""
    if raw is None or len(raw) == 0:
        meta = {"html_bytes": 0, "n_blocks": 0, "truncated": False,
                "charset": cfg.default_charset}
        return b"", meta, "empty"
    raw = bytes(raw)
    had_bom = raw[:2] in (b"\xff\xfe", b"\xfe\xff") or raw[:3] == b"\xef\xbb\xbf"
    html = normalize_input_bytes(raw)
    nbytes = len(html)
    # DetResize limit_type=max analog (det_transforms.py:185-310): cap
    # work per document, record the truncation in metadata
    html = html[: cfg.limit_side_len]
    charset = sniff_charset(html, cfg.default_charset)
    if hint and not had_bom:
        charset = normalize_charset_name(hint) or charset
    _, cs_status, codec = decode_bytes(html, charset)
    meta = {
        "html_bytes": nbytes,
        "n_blocks": 0,
        "truncated": nbytes > cfg.limit_side_len,
        "charset": codec,
    }
    return html, meta, cs_status


def _hints(pdf: pd.DataFrame, charset_col: "str | None"):
    if charset_col and charset_col in pdf.columns:
        return pdf[charset_col].tolist()
    return [None] * len(pdf)


def lane_fronts(pdf: pd.DataFrame, cfg: ExtractConfig, charset_col: "str | None" = None) -> list:
    """``_doc_front`` of every page of a lane's pandas batch."""
    return [
        _doc_front(raw, hint, cfg)
        for raw, hint in zip(pdf["html"].tolist(), _hints(pdf, charset_col))
    ]


def lane_columns(pages, charset_col: "str | None"):
    """(the columns an HTML lane reads — url, html and the header
    charset column when ``pages`` has it —, that column's name or
    None)."""
    if charset_col is not None and charset_col not in pages.columns:
        charset_col = None
    return ["url", "html"] + ([charset_col] if charset_col else []), charset_col


def _extract_docs(raws: list, hints: list, cfg: ExtractConfig):
    """Both stages over a batch's documents → (fronts, decoded): per
    document ``_doc_front``'s (html, meta, charset status) and
    ``_decode_batch``'s ``(rows, joined, conf)``."""
    fronts = [_doc_front(raw, hint, cfg) for raw, hint in zip(raws, hints)]
    return fronts, _decode_batch(fronts, cfg)

# the computed output columns, in extracted_schema order after url
_OUT = ("text", "spans", "conf", "status", "meta")
_I32_MAX = 2**31 - 1
_KINDS = np.array([b"content", b"heading"])  # both 7 bytes


@lru_cache(maxsize=1)
def _out_types() -> list:
    """The Arrow types Spark expects for the ``_OUT`` columns."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from webx.schema import extracted_schema

    schema = to_arrow_schema(extracted_schema())
    return [schema.field(name).type for name in _OUT]


def _rows_arrays(fronts: list, decoded: list) -> list:
    """The ``_OUT`` columns of documents that took the Python path,
    built from their rows."""
    t_text, t_spans, t_conf, t_status, t_meta = _out_types()
    return [
        pa.array([joined for _, joined, _ in decoded], t_text),
        pa.array([rows for rows, _, _ in decoded], t_spans),
        pa.array([conf for _, _, conf in decoded], t_conf),
        pa.array([cs_status for _, _, cs_status in fronts], t_status),
        pa.array([meta for _, meta, _ in fronts], t_meta),
    ]


def _offsets32(off: np.ndarray) -> pa.Buffer:
    """Byte offsets (int64, any origin) as Arrow int32 offsets from 0."""
    rel = off - off[0]
    if rel[-1] > _I32_MAX:
        raise OverflowError("a column of the batch exceeds 2 GiB")
    return pa.py_buffer(rel.astype(np.int32))


def _string(n: int, offsets: pa.Buffer, data: np.ndarray) -> pa.Array:
    return pa.Array.from_buffers(pa.string(), n, [None, offsets, pa.py_buffer(data)])


def _kernel_arrays(r, lens: np.ndarray) -> list:
    """The ``_OUT`` columns over the kernel's buffer (ctokenize.BatchRows;
    the texts are not copied): one row per document, a placeholder
    where ``r.done`` is False. Every final row has status ``ok`` and
    the meta of an untruncated utf-8 page."""
    t_text, t_spans, _, _, t_meta = _out_types()
    n, m = len(lens), len(r.start)
    kind = _string(
        m, pa.py_buffer(np.arange(0, 7 * m + 1, 7, dtype=np.int32)), _KINDS[r.head]
    )
    rows = pa.StructArray.from_arrays(
        [pa.array(r.start), pa.array(r.end), pa.array(r.score), kind,
         _string(m, _offsets32(r.toff), r.text)],
        fields=list(t_spans.value_type),
    )
    meta = pa.StructArray.from_arrays(
        [pa.array(lens), pa.array(r.n_blocks.astype(np.int32)),
         pa.array(np.zeros(n, dtype=bool)), pa.repeat("utf-8", n)],
        fields=list(t_meta),
    )
    return [
        _string(n, _offsets32(r.joff), r.joined),
        pa.Array.from_buffers(t_spans, n, [None, _offsets32(r.span_off)],
                              children=[rows]),
        pa.array(r.conf),
        pa.repeat("ok", n),
        meta,
    ]


def _doc_buffers(html: pa.Array, hints: "pa.Array | None"):
    """Each page's address and length in the html column's own buffers
    (int64 arrays, honouring the array offset); length 0 for a NULL page
    or one with a header charset hint, which the kernel leaves alone."""
    _, offsets, data = html.buffers()
    dtype = np.int64 if pa.types.is_large_binary(html.type) else np.int32
    off = np.frombuffer(offsets, dtype=dtype)[
        html.offset : html.offset + len(html) + 1
    ].astype(np.int64)
    lens = np.diff(off)
    if html.null_count:
        lens[~html.is_valid().to_numpy(zero_copy_only=False)] = 0
    if hints is not None and hints.null_count < len(hints):
        lens[hints.is_valid().to_numpy(zero_copy_only=False)] = 0
    return off[:-1] + (data.address if data is not None else 0), lens


def _kernel_rows(html: pa.Array, hints: "pa.Array | None", cfg: ExtractConfig):
    """One kernel call (ctokenize.extract_rows) over the batch → (the
    ``_OUT`` columns over the kernel's buffer, positions of the pages
    whose row is not final)."""
    from webx.ctokenize import extract_rows

    addrs, lens = _doc_buffers(html, hints)
    r = extract_rows(addrs, lens, _kernel_params(cfg))
    return _kernel_arrays(r, lens), np.flatnonzero(~r.done)


def _extract_arrays(html: pa.Array, hints: "pa.Array | None", cfg: ExtractConfig) -> list:
    """Both stages over one batch's ``html`` column → the ``_OUT``
    columns, in input order. ``hints`` is the HTTP-header charset column
    or None (see extract_batch for precedence).

    With the C kernel, one call runs the document front, both stages
    and the final row of every page whose result it can produce whole:
    a non-NULL, unhinted, untruncated page that the sniffer's fast paths
    call utf-8, valid utf-8, every kept span finished in C. Its columns
    are Arrow arrays over the kernel's buffer. The other pages take the
    lanes' batch path (``_extract_docs``: the Python front, then
    ``_decode_batch``), and their rows go back in input order with one
    ``take``."""
    n = len(html)
    fast = None
    if resolve_extract_spans(cfg.ckernels) is not None and n:
        fast, slow = _kernel_rows(html, hints, cfg)
        if not len(slow):
            return fast
        html = html.take(slow)
        hints = hints.take(slow) if hints is not None else None
    # the rows' Python objects are gone before the merge
    cols = _rows_arrays(*_extract_docs(
        html.to_pylist(),
        hints.to_pylist() if hints is not None else [None] * len(html), cfg,
    ))
    if fast is None:
        return cols
    # the two parts are joined and freed before the take, on the system
    # allocator: its heap is where the kernel's buffer and the rows'
    # Python objects go back to, so the merge reuses their memory
    pool = pa.system_memory_pool()
    both = pa.concat_arrays([
        pa.StructArray.from_arrays(fast, _OUT), pa.StructArray.from_arrays(cols, _OUT)
    ], memory_pool=pool)
    del fast, cols
    perm = np.arange(n)
    perm[slow] = n + np.arange(len(slow))
    return pc.take(both, perm, memory_pool=pool).flatten(memory_pool=pool)


def _pylist(col: pa.Array) -> list:
    """``col.to_pylist()`` of a column without nulls; a struct (or list
    of structs) converts child by child, which is cheaper."""
    if col.null_count:
        return col.to_pylist()
    if pa.types.is_list(col.type):
        rows = _pylist(col.values)
        offsets = col.offsets.to_pylist()
        return [rows[a:b] for a, b in zip(offsets, offsets[1:])]
    if pa.types.is_struct(col.type):
        names = [f.name for f in col.type]
        return [dict(zip(names, v)) for v in zip(*map(_pylist, col.flatten()))]
    return col.to_pylist()


def extract_batch(
    pdf: pd.DataFrame,
    cfg: ExtractConfig,
    passthrough: Tuple[str, ...] = (),
    charset_col: "str | None" = None,
) -> pd.DataFrame:
    """Run both stages over one batch → output pandas frame: a pandas
    adapter over the Arrow core (``_extract_arrays``), same values.

    ``charset_col`` names a per-row HTTP-header charset hint column
    (e.g. read_warc(with_charset=True)); WHATWG precedence applies —
    a BOM wins, then the header hint, then the in-document meta."""
    hints = None
    if charset_col and charset_col in pdf.columns:
        hints = pa.array(_hints(pdf, charset_col), pa.string(), from_pandas=True)
    cols = _extract_arrays(
        pa.array(pdf["html"].tolist(), pa.binary()), hints, cfg
    )
    res = pd.DataFrame(
        {"url": pdf["url"].tolist(), **{k: _pylist(c) for k, c in zip(_OUT, cols)}}
    )
    for col in passthrough:
        res[col] = pdf[col].values
    return res


def _extract_record_batches(
    batch: pa.RecordBatch, cfg: ExtractConfig, passthrough, charset_col
) -> Iterator[pa.RecordBatch]:
    hints = batch.column(charset_col) if charset_col else None
    try:
        cols = _extract_arrays(batch.column("html"), hints, cfg)
    except OverflowError:
        if batch.num_rows < 2:
            raise
        # texts past int32 offsets: two output batches
        half = batch.num_rows // 2
        for part in (batch.slice(0, half), batch.slice(half)):
            yield from _extract_record_batches(part, cfg, passthrough, charset_col)
        return
    yield pa.RecordBatch.from_arrays(
        [batch.column("url"), *cols, *(batch.column(c) for c in passthrough)],
        names=["url", *_OUT, *passthrough],
    )


def make_extract_fn(
    cfg: ExtractConfig,
    passthrough: Tuple[str, ...] = (),
    charset_col: "str | None" = None,
):
    """mapInArrow body: Iterator[pa.RecordBatch] → Iterator[pa.RecordBatch].
    ``url`` and the passthrough columns go through untouched."""

    def fn(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield from _extract_record_batches(batch, cfg, passthrough, charset_col)

    return fn


def detect_batch(pdf: pd.DataFrame, cfg: ExtractConfig) -> pd.DataFrame:
    """Stage-1-only batch op → (url, spans[start,end,score,kind], meta);
    ``meta`` equals extract_batch's for the same row."""
    fronts = lane_fronts(pdf, cfg)
    spans, _ = _stage1(fronts, cfg)
    return pd.DataFrame({
        "url": pdf["url"].tolist(),
        "spans": [
            [{"start": s.start, "end": s.end, "score": s.score, "kind": s.kind}
             for s in doc_spans]
            for doc_spans in spans
        ],
        "meta": [meta for _, meta, _ in fronts],
    })


def make_detect_fn(cfg: ExtractConfig):
    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield detect_batch(pdf, cfg)

    return fn


# ---------------------------------------------------- interleaved documents

_IMG_TAG_RE = _re.compile(rb"(?is)<img\b([^>]*)>")
_IMG_SRC_RE = _re.compile(rb"""(?i)(?<![\w-])src\s*=\s*["']([^"']+)["']""")
_IMG_LAZY_RE = _re.compile(
    rb"""(?i)\bdata-(?:src|original|lazy-src)\s*=\s*["']([^"']+)["']"""
)
_IMG_ALT_RE = _re.compile(rb"""(?i)\balt\s*=\s*["']([^"']*)["']""")
_WS_RE = _re.compile(r"[ \t\r\n]+")


def interleave_batch(
    pdf: pd.DataFrame,
    cfg: ExtractConfig,
    charset_col: "str | None" = None,
) -> pd.DataFrame:
    """MMC4/OBELICS-style interleaved documents: per page, the DOM-order
    sequence of surviving text spans (the REAL extractor's stage-1+2)
    and ``<img>`` occurrences — the layout multimodal LLM training data
    preserves (text and images in reading order, not two detached
    tables). One output row per sequence element: (url, seq, kind
    ∈ {text, image}, text, src, alt); src is emitted RAW (resolution
    against the page url is a JVM-side column op downstream). Images
    with no src drop; alt is whitespace-collapsed ('' when absent).
    Placement rule: elements order by byte offset, a span by its START
    — an image falling INSIDE a merged span's range therefore lands
    after that span (adjacent candidate blocks merge across a bare
    img, which contributes no text block; dividers that are real
    boilerplate — link farms, nav — keep spans separate, so the
    common figure-between-sections layout interleaves exactly)."""
    out = {"url": [], "seq": [], "kind": [], "text": [], "src": [], "alt": []}
    fronts = lane_fronts(pdf, cfg, charset_col)
    decoded = _decode_batch(fronts, cfg)
    for url, (trunc, meta, _), (rows, _, _) in zip(
        pdf["url"].tolist(), fronts, decoded
    ):
        codec = meta["charset"]
        items: List[tuple] = [(r["start"], "text", r["text"], None, None) for r in rows]
        for m in _IMG_TAG_RE.finditer(trunc):
            attrs = m.group(1)
            sm = _IMG_SRC_RE.search(attrs) or _IMG_LAZY_RE.search(attrs)
            if not sm:
                continue
            am = _IMG_ALT_RE.search(attrs)
            src = _charset_decode(sm.group(1), codec)
            alt = _WS_RE.sub(
                " ", _charset_decode(am.group(1), codec)
            ).strip() if am else ""
            items.append((m.start(), "image", None, src, alt))
        items.sort(key=lambda t: t[0])
        for seq, (_, kind, text, src, alt) in enumerate(items):
            out["url"].append(url)
            out["seq"].append(seq)
            out["kind"].append(kind)
            out["text"].append(text)
            out["src"].append(src)
            out["alt"].append(alt)
    res = pd.DataFrame(out)
    res["seq"] = res["seq"].astype("int32")
    return res


def make_interleave_fn(cfg: ExtractConfig, charset_col: "str | None" = None):
    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield interleave_batch(pdf, cfg, charset_col)

    return fn

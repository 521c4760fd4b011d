"""The fused two-stage extractor as an Arrow-batched ``mapInPandas`` op.

One pass over each Arrow batch: tokenize every document, score ALL blocks
of the batch in one numpy call (the batch = the reference's tensor batch,
mindocr/data/builder.py:154-161), merge runs per document, decode spans.
Stage boundaries are columnar hand-offs inside the same batch — the Spark
recast of predict_system.py's det → crop → rec → merge loop
(tools/infer/text/predict_system.py:45-117).

Also exposes the stages separately (``detect_batch`` / parity with
save_det_res / save_rec_res debug sinks, tools/infer/text/predict_det.py:190-201).
"""

from __future__ import annotations

import re as _re
import unicodedata as _unicodedata
from typing import Iterable, Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd

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
def resolve_tokenize_table(mode: str):
    return _resolve_kernel(mode, _tokenize_table_py, "tokenize_table")


@lru_cache(maxsize=4)
def resolve_strip(mode: str):
    from webx.recognize import strip_markup

    return _resolve_kernel(mode, strip_markup, "strip_markup_c")


@lru_cache(maxsize=4)
def resolve_detect_final(mode: str):
    """The FULLY-fused stage-1 kernel (tokenize + scores + runs +
    finalize + expand + validate in one C call, every document) or
    None. No Python twin: None routes to the decomposed reference
    composition, which computes the same bits."""
    if mode == "off":
        return None
    return _resolve_kernel(mode, None, "detect_final")


@lru_cache(maxsize=4)
def resolve_strip_norm(mode: str):
    """Fused stage-2 strip + normalize kernel (wx_strip_norm) or None.
    Only pure-ASCII, entity-free spans normalize fully in C (the byte
    ops commute with any ASCII-compatible decode); other spans come
    back merely stripped with ok=False and finish on the reference
    Python path (webx.recognize.decode_stripped). No Python twin."""
    if mode == "off":
        return None
    return _resolve_kernel(mode, None, "strip_norm_c")


@lru_cache(maxsize=4)
def resolve_detect_table(mode: str):
    """The FUSED stage-1 kernel (tokenize + scores + candidate runs in
    one C call) or None for the decomposed path. Unlike the other
    resolvers there is no Python twin — None routes to the reference
    composition (tokenize_table → block_scores → merge_runs_table)."""
    if mode == "off":
        return None
    fn = _resolve_kernel(mode, None, "detect_table")
    return fn  # None when the kernel is unavailable in "auto"


def _extract_doc_stage1(
    html: Optional[bytes], cfg: ExtractConfig
) -> Tuple[int, List[Span], dict]:
    """Tokenize + detect one document. Returns (n_blocks, spans, meta)."""
    if html is None:
        html = b""
    nbytes = len(html)
    truncated = False
    if nbytes > cfg.limit_side_len:
        # DetResize limit_type=max analog (det_transforms.py:185-310):
        # cap work per document, record the truncation in metadata.
        html = html[: cfg.limit_side_len]
        truncated = True
    charset = sniff_charset(html, cfg.default_charset)
    fused = resolve_detect_final(cfg.ckernels)
    if fused is not None:
        # one C call: tokenize + scores + runs + finalize + expand +
        # validate — the whole stage; plain-list span columns
        _, n_blocks, f_start, f_end, f_first, f_last, f_head, f_sc = fused(
            html,
            cfg.tag_weight,
            cfg.binary_thresh,
            cfg.min_block_chars,
            cfg.box_thresh,
            cfg.min_span_chars,
            cfg.max_candidates,
            cfg.expand_ratio,
            cfg.rescue_thresh,
            cfg.rescue_max_chars,
        )
        spans = [
            Span(s, e, sc, "heading" if h else "content", fi, la)
            for s, e, sc, h, fi, la in zip(
                f_start, f_end, f_sc, f_head, f_first, f_last
            )
        ]
    else:
        # columnar block table straight from the tokenizer (the C kernel
        # fills numpy columns directly; the Python path transposes once)
        start, end, tlen, link, tags, heading, boiler = resolve_tokenize_table(
            cfg.ckernels
        )(html)
        n_blocks = len(tlen)
        if n_blocks:
            scores = block_scores(tlen, link, tags, boiler, cfg)
            spans = validate_spans(
                expand_spans(
                    html,
                    merge_runs_table(
                        start, end, tlen, heading, scores, cfg, link=link
                    ),
                    cfg.expand_ratio,
                ),
                len(html),
            )
        else:
            spans = []
    meta = {
        "html_bytes": nbytes,
        "n_blocks": n_blocks,
        "truncated": truncated,
        "charset": charset,
    }
    return n_blocks, spans, meta


def _decode_spans(
    html: bytes, spans: List[Span], charset: str, cfg: ExtractConfig
) -> Tuple[List[dict], str, float]:
    """Stage 2 over one document's surviving spans.

    Returns (span_rows, joined_text, conf); conf is the text-length
    weighted mean span score."""
    rows: List[dict] = []
    strip_norm = (
        resolve_strip_norm(cfg.ckernels) if is_ascii_compatible(charset) else None
    )
    strip = resolve_strip(cfg.ckernels) if strip_norm is None else None
    # <pre>/<listing> content ranges, once per document (cheap probe
    # inside): spans overlapping one preserve its whitespace
    preserved = pre_regions(html)
    for s in spans:
        if s.score < cfg.drop_score:  # drop_score filter (predict_system.py:92-100)
            continue
        raw = html[s.start : s.end]
        if has_rawkept(raw):
            # <xmp>/<plaintext> region inside the span (1996-era rare):
            # literal-text decode on the reference Python path
            text = decode_span_rawkept(raw, charset)
        elif preserved and any(
            rs < s.end and re_ > s.start for rs, re_ in preserved
        ):
            text = decode_span_pre(
                raw, charset, s.start, preserved,
                resolve_strip(cfg.ckernels),
            )
        elif strip_norm is not None:
            out, done = strip_norm(raw)
            # done: out IS the normalized text — pure-ASCII bytes, and
            # the charset passed the ASCII-compatibility probe, so
            # decoding as ASCII is exact (also covers x-user-defined,
            # which has no stdlib codec); else out is the stripped
            # bytes — finish on the reference Python path
            text = out.decode("ascii") if done else decode_stripped(out, charset)
        else:
            text = decode_span(raw, charset, strip)
        if not text:
            continue
        if cfg.nfc and not text.isascii():  # ASCII is NFC-invariant
            text = _unicodedata.normalize("NFC", text)
        rows.append(
            {
                "start": s.start,
                "end": s.end,
                "score": s.score,
                "kind": s.kind,
                "text": text,
            }
        )
    joined = cfg.join_sep.join(r["text"] for r in rows)
    conf = weighted_mean([r["score"] for r in rows], [len(r["text"]) for r in rows])
    return rows, joined, conf


def _extract_doc(
    raw: bytes, hint, cfg: ExtractConfig
) -> Tuple[bytes, List[Span], dict, str]:
    """Per-document front of both stages, shared by the batch ops:
    input normalization, stage 1, charset resolution and one strict
    decode. ``hint`` is the row's HTTP-header charset or None (see
    extract_batch for precedence). Returns (truncated html, spans, meta,
    charset status); ``meta["charset"]`` is the EFFECTIVE codec the
    spans decode with."""
    had_bom = raw[:2] in (b"\xff\xfe", b"\xfe\xff") or raw[:3] == b"\xef\xbb\xbf"
    html = normalize_input_bytes(raw)
    _, spans, meta = _extract_doc_stage1(html, cfg)
    if hint and not had_bom:
        hinted = normalize_charset_name(hint)
        if hinted is not None:
            meta["charset"] = hinted
    trunc_html = html[: cfg.limit_side_len]
    # one strict decode establishes status + the EFFECTIVE codec; spans
    # decode with that codec (a misdeclared page must not produce
    # mojibake while status says fallback)
    _, cs_status, codec = decode_bytes(trunc_html, meta["charset"])
    meta["charset"] = codec
    return trunc_html, spans, meta, cs_status


def extract_batch(
    pdf: pd.DataFrame,
    cfg: ExtractConfig,
    passthrough: Tuple[str, ...] = (),
    charset_col: "str | None" = None,
) -> pd.DataFrame:
    """Run both stages over one Arrow batch → output pandas frame.

    ``charset_col`` names a per-row HTTP-header charset hint column
    (e.g. read_warc(with_charset=True)); WHATWG precedence applies —
    a BOM wins, then the header hint, then the in-document meta."""
    urls = pdf["url"].tolist()
    htmls = pdf["html"].tolist()
    hints = (
        pdf[charset_col].tolist()
        if charset_col and charset_col in pdf.columns
        else None
    )
    out = {
        "url": urls,
        "text": [],
        "spans": [],
        "conf": [],
        "status": [],
        "meta": [],
    }
    for i, html in enumerate(htmls):
        if html is None or len(html) == 0:
            out["text"].append("")
            out["spans"].append([])
            out["conf"].append(0.0)
            out["status"].append("empty")
            out["meta"].append(
                {"html_bytes": 0, "n_blocks": 0, "truncated": False, "charset": cfg.default_charset}
            )
            continue
        trunc_html, spans, meta, cs_status = _extract_doc(
            bytes(html), hints[i] if hints is not None else None, cfg
        )
        rows, joined, conf = _decode_spans(trunc_html, spans, meta["charset"], cfg)
        out["text"].append(joined)
        out["spans"].append(rows)
        out["conf"].append(conf)
        out["status"].append(cs_status)
        out["meta"].append(meta)
    res = pd.DataFrame(out)
    for col in passthrough:
        res[col] = pdf[col].values
    return res


def make_extract_fn(
    cfg: ExtractConfig,
    passthrough: Tuple[str, ...] = (),
    charset_col: "str | None" = None,
):
    """mapInPandas body: Iterator[pd.DataFrame] → Iterator[pd.DataFrame]."""

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield extract_batch(pdf, cfg, passthrough, charset_col)

    return fn


def detect_batch(pdf: pd.DataFrame, cfg: ExtractConfig) -> pd.DataFrame:
    """Stage-1-only batch op → (url, spans[start,end,score,kind], meta)."""
    out = {"url": pdf["url"].tolist(), "spans": [], "meta": []}
    for html in pdf["html"].tolist():
        if html is None or len(html) == 0:
            out["spans"].append([])
            out["meta"].append(
                {"html_bytes": 0, "n_blocks": 0, "truncated": False, "charset": cfg.default_charset}
            )
            continue
        _, spans, meta = _extract_doc_stage1(normalize_input_bytes(bytes(html)), cfg)
        out["spans"].append(
            [{"start": s.start, "end": s.end, "score": s.score, "kind": s.kind} for s in spans]
        )
        out["meta"].append(meta)
    return pd.DataFrame(out)


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
    hints = (
        pdf[charset_col].tolist()
        if charset_col and charset_col in pdf.columns
        else None
    )
    for i, (url, html) in enumerate(zip(pdf["url"].tolist(), pdf["html"].tolist())):
        if html is None or len(html) == 0:
            continue
        trunc, spans, meta, _ = _extract_doc(
            bytes(html), hints[i] if hints is not None else None, cfg
        )
        codec = meta["charset"]
        rows, _, _ = _decode_spans(trunc, spans, codec, cfg)
        items: List[tuple] = [(r["start"], "text", r["text"], None, None) for r in rows]
        for m in _IMG_TAG_RE.finditer(trunc):
            attrs = m.group(1)
            sm = _IMG_SRC_RE.search(attrs) or _IMG_LAZY_RE.search(attrs)
            if not sm:
                continue
            am = _IMG_ALT_RE.search(attrs)
            src = sm.group(1).decode(codec, errors="replace")
            alt = _WS_RE.sub(
                " ", am.group(1).decode(codec, errors="replace")
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

"""Stage 1 — block-level boilerplate detector (the DBPostprocess analog).

Maps the reference's dense-score-map → threshold → contours → scored
polygons pipeline (mindocr/postprocess/det_postprocess.py:13-145) onto a
block table:

* per-block score = text_density × (1 − link_density)   (the score map)
* ``score >= binary_thresh``                              (binarization, :42)
* merge contiguous candidate runs into spans              (findContours, :53)
* span score = text-length-weighted mean block score      (_calc_score, :137-145)
* ``span_score >= box_thresh`` + min-size filter          (:63-64, :72-74)
* ``max_candidates`` cap                                  (:60)

Scoring is numpy-vectorized over the *flattened block table of an entire
Arrow batch* (all documents at once); only run-merging walks per-document
boundaries. Deterministic: pure float arithmetic with fixed tie-breaking
(block order = byte order); span scores are one left-to-right fold
(``weighted_mean``), never a BLAS reduction.
"""

from __future__ import annotations

from typing import List, NamedTuple, Sequence

import numpy as np

from webx.config import ExtractConfig


class Span(NamedTuple):
    start: int          # byte offset into html (inclusive)
    end: int            # byte offset (exclusive)
    score: float
    kind: str           # 'content' | 'heading'
    first_block: int    # index into the doc's block list
    last_block: int


def block_scores(
    tlen: np.ndarray,
    link_tlen: np.ndarray,
    tag_cnt: np.ndarray,
    boiler: np.ndarray,
    cfg: ExtractConfig,
) -> np.ndarray:
    """Vectorized per-block score in [0, 1]; structural boilerplate → 0."""
    tl = tlen.astype(np.float64)
    density = tl / (tl + cfg.tag_weight * tag_cnt.astype(np.float64) + 1.0)
    link_density = link_tlen.astype(np.float64) / np.maximum(tl, 1.0)
    score = density * (1.0 - link_density)
    score[boiler] = 0.0
    return score


def weighted_mean(scores: Sequence[float], weights: Sequence[float]) -> float:
    """Weight-averaged score: a span's text-length-weighted mean block
    score (_calc_score, det_postprocess.py:137-145) and a document's
    span-length-weighted ``conf``. One left-to-right fold,
    ``acc += score * weight`` in the given order, then one divide by
    ``max(sum(weights), 1.0)``. The C kernel (webx/_ctok.c
    detect_final_doc, built with -ffp-contract=off) runs the identical
    IEEE operations, so no result depends on a BLAS reduction order.
    Weights are integer counts, so their sum is exact in any order."""
    acc = 0.0
    total = 0.0
    for s, w in zip(scores, weights):
        acc += s * w
        total += w
    return acc / max(total, 1.0)


def merge_runs_table(
    start: np.ndarray,
    end: np.ndarray,
    tlen: np.ndarray,
    heading: np.ndarray,
    scores: np.ndarray,
    cfg: ExtractConfig,
    link: np.ndarray | None = None,
) -> List[Span]:
    """Merge one document's consecutive candidate blocks into scored
    spans: a list walk finds the (first, last) candidate runs and
    ``_finalize_runs`` scores them.

    Heading rescue (FROZEN RULE — the C kernel `wx_detect` and the synth
    oracle arithmetic implement the identical predicate): with
    ``cand_base = (score >= binary_thresh) & (tlen >= min_block_chars)``,
    a block ``i`` is rescued into candidacy iff

        not cand_base[i]  and  cand_base[i+1]        (directly precedes
                                                      base content)
        and link[i] == 0                             (a headline is not
                                                      a link)
        and min_block_chars <= tlen[i] <= rescue_max_chars
        and 0.0 < score[i]  and  score[i] >= rescue_thresh

    The i+1 test is against BASE candidacy (single pass, no chaining:
    stacked headlines rescue only the last). ``score > 0`` keeps boiler
    blocks (forced to 0.0) out even under a zero rescue_thresh. The rule
    is the boilerpipe/readability "headline preceding content" heuristic
    recast over the block table: 1990s table/font newsletters express
    headings as ``<font><b>…</b></font><br>`` whose inline-tag density
    fails binary_thresh while the text itself is real content. Rescue is
    skipped when ``link`` is None (legacy callers) or
    ``rescue_max_chars == 0``."""
    n = len(tlen)
    if n == 0:
        return []
    cand = (scores >= cfg.binary_thresh) & (tlen >= cfg.min_block_chars)
    if cfg.rescue_max_chars > 0 and link is not None and n > 1:
        resc = (
            ~cand[:-1]
            & cand[1:]
            & (link[:-1] == 0)
            & (tlen[:-1] >= cfg.min_block_chars)
            & (tlen[:-1] <= cfg.rescue_max_chars)
            & (scores[:-1] > 0.0)
            & (scores[:-1] >= cfg.rescue_thresh)
        )
        if resc.any():
            cand = cand.copy()
            cand[:-1] |= resc
    # typical pages have O(10) blocks: a list walk beats numpy's
    # per-call overhead
    cl = cand.tolist()
    pairs = []
    i = 0
    while i < n:
        if cl[i]:
            j = i
            while j + 1 < n and cl[j + 1]:
                j += 1
            pairs.append((i, j))
            i = j + 1
        else:
            i += 1

    return _finalize_runs(start, end, tlen, heading, scores, pairs, cfg)


def _finalize_runs(
    start: np.ndarray,
    end: np.ndarray,
    tlen: np.ndarray,
    heading: np.ndarray,
    scores: np.ndarray,
    pairs,
    cfg: ExtractConfig,
) -> List[Span]:
    """Per-run score + size + kind filter over (first, last) block runs —
    the Python twin of the finalization inside the fused C kernel
    (webx/_ctok.c detect_final_doc); both score a run with the same
    ``weighted_mean`` fold, so their span scores are bit-identical."""
    sl = scores.tolist()
    tl = tlen.tolist()
    hd = heading.tolist()
    spans: List[Span] = []
    for i, last in pairs:
        run = slice(i, last + 1)
        sc = weighted_mean(sl[run], tl[run])
        if sc >= cfg.box_thresh and sum(tl[run]) >= cfg.min_span_chars:
            kind = "heading" if all(hd[run]) else "content"
            spans.append(
                Span(int(start[i]), int(end[last]), sc, kind, int(i), int(last))
            )

    if len(spans) > cfg.max_candidates:
        spans = spans[: cfg.max_candidates]
    return spans


_WS_BYTES = frozenset(b" \t\r\n\f\v")


def expand_spans(
    html: bytes, spans: Sequence[Span], expand_ratio: float
) -> List[Span]:
    """The unclip analog (DBPostprocess expand, det_postprocess.py:76-77 /
    expand_poly, det_transforms.py:313-316): widen each span outward into
    the surrounding WHITESPACE bytes only, by at most
    ``expand_ratio * span_len`` per side, never crossing a neighboring
    span. Whitespace-only expansion keeps decoded text byte-identical
    (stage 2 collapses it) while making offsets cover the full visual
    extent — exactly the reference's shrink/unclip asymmetry."""
    if expand_ratio <= 0 or not spans:
        return list(spans)
    out: List[Span] = []
    prev_end = 0
    n = len(html)
    for idx, s in enumerate(spans):
        budget = int((s.end - s.start) * expand_ratio)
        start, end = s.start, s.end
        b = budget
        while start > prev_end and b > 0 and html[start - 1] in _WS_BYTES:
            start -= 1
            b -= 1
        hi = spans[idx + 1].start if idx + 1 < len(spans) else n
        b = budget
        while end < hi and b > 0 and html[end] in _WS_BYTES:
            end += 1
            b -= 1
        out.append(s._replace(start=start, end=end))
        prev_end = end
    return out


def validate_spans(spans: Sequence[Span], doc_len: int) -> List[Span]:
    """Clip spans to [0, doc_len), drop empty/inverted — the
    ``validate_det_res`` invariants (tools/infer/text/predict_det.py:131-187)."""
    out: List[Span] = []
    for s in spans:
        start = max(0, min(s.start, doc_len))
        end = max(0, min(s.end, doc_len))
        if end > start:
            out.append(s._replace(start=start, end=end))
    return out

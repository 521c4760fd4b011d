"""Stage 2 — span decoder (the RecCTCLabelDecode analog).

The reference decodes a character-index sequence by: argmax → collapse
repeated chars → drop blank tokens → join
(mindocr/postprocess/rec_postprocess.py:75-142). Our span decoder is the
same shape over markup:

1. drop raw-text element content (script/style/textarea, plus
   iframe/template whose content the spec never displays), comments,
   and non-prose DROP regions (svg/math/select/button/datalist/
   audio/video/rt/rp — chart labels, option lists, fallback text,
   ruby annotations) — the *blank tokens*;
2. block-boundary tags → ``\n``, all other tags → `''` — token removal
   preserving reading order (``sorted_boxes`` is free: byte order IS
   reading order, tools/infer/text/utils.py:93-101);
3. charset-decode (errors='replace' → deterministic U+FFFD);
4. entity substitution — the char-dictionary lookup;
5. per-line whitespace-run collapse — the *duplicate collapse*;
6. join non-empty lines with ``\n``.

All regexes are module-level compiled; per-span work is C-level.
"""

from __future__ import annotations

import re
import warnings

from webx.entities import unescape

_BLOCK_NAMES = (
    rb"p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tfoot|tr|td|th|br|hr|"
    rb"article|section|header|footer|nav|aside|main|blockquote|pre|title|form|"
    rb"figure|figcaption|fieldset|legend|address|summary|details|body|html|head|"
    rb"listing"
)

_RAWTEXT_RE = re.compile(
    rb"<(script|style|textarea|iframe|template)(?:\s[^>]*)?>.*?</\1(?:\s[^>]*)?>",
    re.I | re.S,
)
_COMMENT_RE = re.compile(rb"<!--.*?(?:--\s*>|\Z)|<!\[CDATA\[.*?\]\]>", re.S)
_BLOCKTAG_RE = re.compile(
    rb"</?(?:" + _BLOCK_NAMES + rb")(?:[\s/](?:[^>\"']|\"[^\"]*\"|'[^']*')*)?>", re.I
)
_ANYTAG_RE = re.compile(
    rb"<(?:[!?][^>]*|/?[a-zA-Z][a-zA-Z0-9:_-]*(?:[^>\"']|\"[^\"]*\"|'[^']*')*)>"
)

# horizontal whitespace (plus NBSP, plus NUL: a raw \x00 must never
# reach training text) collapsed within a line
_HWS_RE = re.compile(r"[ \t\f\v \x00]+")
# A line needs the collapse regex only if it holds a non-space class
# member or a double space -- single spaces map to themselves. The
# probes are UNROLLED `in` scans (memchr speed, no genexpr frames);
# a compiled `[\t\f\v\xa0]|  ` probe was A/B'd and is ~30x slower on
# probe-miss text (re's char loop vs stringlib memchr) — don't.
def _collapse_hws(text: str) -> str:
    """``_HWS_RE.sub(" ", ...)`` with a no-op fast path. The class has
    no newline, so one global pass == the original per-line passes."""
    if (
        "  " in text
        or "\xa0" in text
        or "\t" in text
        or "\f" in text
        or "\v" in text
        or "\x00" in text
    ):
        return _HWS_RE.sub(" ", text)
    return text



# ---- non-prose DROP regions (tokenize.DROP_TAGS, stage-2 side) -------
# Same region semantics as the lexer: a drop element's content is
# removed from the decoded text. This pass runs AFTER the rawtext and
# comment passes, so terminators hidden inside those islands are
# invisible here exactly as the lexer's drop scan skips them.
_DROP_NAMES = rb"svg|math|select|button|datalist|audio|video|rt|rp"
_DROP_PROBE_RE = re.compile(rb"<(?:" + _DROP_NAMES + rb")[\s/>]", re.I)
_DROP_OPEN_RE = re.compile(
    rb"<(" + _DROP_NAMES + rb")(?=[\s/>])((?:[^>\"']|\"[^\"]*\"|'[^']*')*)>",
    re.I,
)


# boundary set = block names minus <title> (HTML5 foreign-content
# breakout excludes it; `<svg><title>` is the a11y pattern)
_DROP_BOUNDARY_NAMES = (
    rb"p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tfoot|tr|td|th|br|hr|"
    rb"article|section|header|footer|nav|aside|main|blockquote|pre|form|"
    rb"figure|figcaption|fieldset|legend|address|summary|details|body|html|head|"
    rb"listing"
)


def _drop_end_re(name: bytes) -> "re.Pattern[bytes]":
    boundary = rb"</?(?:" + _DROP_BOUNDARY_NAMES + rb")(?=[\s/>])"
    if name in (b"rt", b"rp"):
        boundary += rb"|</ruby(?=[\s/>])|<r[tp](?=[\s/>])"
    return re.compile(
        rb"(</" + name + rb"(?:\s[^>]*)?>)|" + boundary, re.I
    )


_DROP_END_RES = {
    name: _drop_end_re(name)
    for name in rb"svg math select button datalist audio video rt rp".split()
}


def _strip_droptext(raw: bytes) -> bytes:
    """Remove non-prose drop regions: open tag through the matching
    close tag (consumed) or the next block-tag boundary (left in place
    for the block pass), else end of input. The region is replaced by
    NOTHING — these are inline annotations, and `漢字<rt>かんじ</rt>`
    must not grow a space inside the word. Self-closed opens are left
    for the anytag pass (no region — mirrors the lexer)."""
    if _DROP_PROBE_RE.search(raw) is None:  # fast path: no drop opens
        return raw
    out = []
    pos = 0
    n = len(raw)
    while pos < n:
        m = _DROP_OPEN_RE.search(raw, pos)
        if m is None:
            break
        if m.group(2).endswith(b"/"):  # self-closing: tag only, no region
            out.append(raw[pos : m.end()])
            pos = m.end()
            continue
        out.append(raw[pos : m.start()])
        e = _DROP_END_RES[m.group(1).lower()].search(raw, m.end())
        if e is None:
            pos = n
        elif e.group(1) is not None:
            pos = e.end()
        else:
            pos = e.start()
    out.append(raw[pos:])
    return b"".join(out)


def strip_markup(raw: bytes) -> bytes:
    """The five sequential byte-level passes (reference implementation;
    webx/_ctok.c `wx_strip` is the bit-identical compiled port)."""
    raw = _RAWTEXT_RE.sub(b" ", raw)
    raw = _COMMENT_RE.sub(b" ", raw)
    raw = _strip_droptext(raw)
    raw = _BLOCKTAG_RE.sub(b"\n", raw)
    return _ANYTAG_RE.sub(b"", raw)


def _charset_decode(raw: bytes, charset: str) -> str:
    if charset == "x-user-defined":
        from webx.charset import _XUD_TABLE

        return raw.decode("latin-1").translate(_XUD_TABLE)
    try:
        return raw.decode(charset, errors="replace")
    except LookupError:
        return raw.decode("utf-8", errors="replace")


# Invisible FORMAT characters that are pure presentation — line-break
# hints and bidi display controls a renderer consumes and a corpus must
# not carry: U+00AD soft hyphen ("hy&shy;phen" is "hyphen"), U+200B
# zero-width space, U+200E/U+200F LRM/RLM, U+202A-U+202E bidi
# embeddings/overrides, U+2060 word joiner, U+2066-U+2069 bidi
# isolates, U+FEFF ZWNBSP (a BOM mid-body). Runs BEFORE whitespace
# collapse so "a ​ b" still collapses to one space and an
# invisible-only line drops. KEPT by reviewed policy: U+200C ZWNJ and
# U+200D ZWJ (orthographic in Persian/Indic and load-bearing in emoji
# sequences) and variation selectors. Documented caveat: Thai/Khmer
# sometimes use U+200B as a word delimiter; stripping loses that
# segmentation hint (the common corpus-cleaning trade, chosen here).
# These code points are never pure ASCII bytes and &shy;-style entities
# carry '&', so text containing them can never take the fused C
# byte-path (webx/_ctok.c norm_fast bails on both) — this Python pass is the
# only normalize kernel that ever sees them; no C twin needed.
_INVIS_RE = re.compile(
    "[\u00ad\u200b\u200e\u200f\u202a-\u202e\u2060\u2066-\u2069\ufeff]"
)


def _normalize_text(text: str) -> str:
    """Invisible-format-char strip, CR normalize, whitespace collapse,
    line trim/join (steps 5-6)."""
    if not text.isascii():  # every stripped char is non-ASCII
        text = _INVIS_RE.sub("", text)
    if "\r" in text:  # one memchr probe skips two alloc passes
        text = text.replace("\r\n", "\n").replace("\r", "\n")
    lines = [ln.strip() for ln in _collapse_hws(text).split("\n")]
    return "\n".join(ln for ln in lines if ln)


def decode_stripped(raw: bytes, charset: str) -> str:
    """Steps 3-6 over already-markup-stripped bytes: charset decode,
    entities, CR normalize, whitespace collapse, line trim/join."""
    return _normalize_text(unescape(_charset_decode(raw, charset)))


def decode_span(raw: bytes, charset: str, strip=strip_markup) -> str:
    """Decode one span's raw bytes into normalized text. ``strip`` is
    the markup-removal kernel (python or C — resolved once per batch by
    webx.extract.resolve_strip)."""
    return decode_stripped(strip(raw), charset)


# ---- <pre>/<listing> whitespace preservation -------------------------
# Per the HTML spec pre is "preformatted text": indentation, interior
# spacing and line structure ARE content (code samples, ASCII tables,
# poetry). The normalize policy's whitespace collapse would destroy
# exactly what a code-corpus needs, so spans overlapping a pre region
# decode that region with entities + tag-strip + CR-normalize but NO
# horizontal-whitespace collapse and NO interior line trim/drop; only
# leading/trailing whitespace-only LINES are removed (the newline after
# ``<pre>`` is markup, not content). Regions are computed ONCE per
# document as content byte ranges — the span decoder intersects its
# extent with them, which also covers spans that BEGIN inside a pre
# block (block offsets are text-trimmed past the open tag). Lexer
# precedence holds: comment/CDATA and script/style/textarea islands
# hide both opens and closes. <listing> is the 1996 synonym. Nested
# <pre> inside <pre> ends at the first close (same approximation as
# <template>; real pages ~never nest). Frozen policy shared with the
# invisible-char rule: U+00AD/ZWSP/bidi controls and NUL are stripped
# in preserved text too.

_PRE_DOC_PROBE_RE = re.compile(rb"<(?:pre|listing)[\s/>]", re.I)
_PRE_SCAN_RE = re.compile(
    rb"<!--.*?(?:--\s*>|\Z)|<!\[CDATA\[.*?\]\]>"
    rb"|<(script|style|textarea|iframe|template)(?:\s[^>]*)?>.*?</\1(?:\s[^>]*)?>"
    rb"|<(pre|listing)(?=[\s/>])((?:[\s/](?:[^>\"']|\"[^\"]*\"|'[^']*')*)?)>",
    re.I | re.S,
)
_PRE_END_RES = {
    b"pre": re.compile(
        rb"<!--.*?(?:--\s*>|\Z)|<!\[CDATA\[.*?\]\]>"
        rb"|<(script|style|textarea|iframe|template)(?:\s[^>]*)?>.*?</\1(?:\s[^>]*)?>"
        rb"|(</pre(?:\s[^>]*)?>)",
        re.I | re.S,
    ),
    b"listing": re.compile(
        rb"<!--.*?(?:--\s*>|\Z)|<!\[CDATA\[.*?\]\]>"
        rb"|<(script|style|textarea|iframe|template)(?:\s[^>]*)?>.*?</\1(?:\s[^>]*)?>"
        rb"|(</listing(?:\s[^>]*)?>)",
        re.I | re.S,
    ),
}


def pre_regions(html: bytes):
    """Content byte ranges of every <pre>/<listing> region of a
    document (island-aware, document order, non-overlapping). Empty
    tuple when the cheap probe misses."""
    if _PRE_DOC_PROBE_RE.search(html) is None:
        return ()
    out = []
    pos = 0
    n = len(html)
    while pos < n:
        m = _PRE_SCAN_RE.search(html, pos)
        if m is None:
            break
        if m.group(2) is None:  # island: opaque to pre opens
            pos = max(m.end(), pos + 1)
            continue
        if m.group(3).rstrip().endswith(b"/"):  # self-closed: no region
            pos = m.end()
            continue
        start = m.end()
        endre = _PRE_END_RES[m.group(2).lower()]
        cpos = start
        close = None
        while cpos < n:
            e = endre.search(html, cpos)
            if e is None:
                break
            if e.group(2) is not None:
                close = e
                break
            cpos = max(e.end(), cpos + 1)
        if close is None:
            out.append((start, n))
            break
        out.append((start, close.start()))
        pos = close.end()
    return tuple(out)


def _preserved_text(content: bytes, charset: str, strip) -> str:
    """Entity + tag handling like the normal path; whitespace kept."""
    txt = unescape(_charset_decode(strip(content), charset))
    if not txt.isascii():
        txt = _INVIS_RE.sub("", txt)
    if "\x00" in txt:
        txt = txt.replace("\x00", "")
    if "\r" in txt:
        txt = txt.replace("\r\n", "\n").replace("\r", "\n")
    lines = txt.split("\n")
    while lines and not lines[0].strip():
        lines.pop(0)
    while lines and not lines[-1].strip():
        lines.pop()
    return "\n".join(lines)


def decode_span_pre(
    raw: bytes, charset: str, offset: int, regions, strip=strip_markup
) -> str:
    """decode_span for spans overlapping pre/listing regions: the span's
    bytes are partitioned against the document's region ranges; normal
    parts take the regular strip + normalize path, region intersections
    the whitespace-preserving path. Parts join with newline."""
    n = len(raw)
    parts = []
    seg = 0
    for rs, re_ in regions:
        lo = max(rs - offset, 0)
        hi = min(re_ - offset, n)
        if hi <= lo or lo >= n:
            continue
        if lo > seg:
            t = decode_stripped(strip(raw[seg:lo]), charset)
            if t:
                parts.append(t)
        t = _preserved_text(raw[lo:hi], charset, strip)
        if t:
            parts.append(t)
        seg = hi
    if seg < n:
        t = decode_stripped(strip(raw[seg:]), charset)
        if t:
            parts.append(t)
    return "\n".join(parts)


# ---- raw-KEPT elements (xmp / plaintext) -----------------------------
# HTML-spec raw text whose content IS displayed: tags literal, character
# references NOT decoded. Spans containing one are rare (1996-era
# markup); webx.extract routes them here after a cheap probe. The
# splitter walks the span left-to-right honoring the LEXER's precedence:
# comments/CDATA and script/style/textarea islands encountered first
# hide any raw-kept open inside them (webx/tokenize.py consumes them the
# same way), so block boundaries and decode regions agree.

_RAWKEPT_PROBE_RE = re.compile(rb"<(?:xmp|plaintext)[\s/>]", re.I)
_RAWKEPT_SPLIT_RE = re.compile(
    rb"<!--.*?(?:--\s*>|\Z)|<!\[CDATA\[.*?\]\]>"          # skip: comment/CDATA
    rb"|<(script|style|textarea|iframe|template)(?:\s[^>]*)?>.*?</\1(?:\s[^>]*)?>"  # skip: rawtext
    rb"|<(xmp|plaintext)((?:[^>\"']|\"[^\"]*\"|'[^']*')*)/?>",      # split: raw-kept
    re.I | re.S,
)


def has_rawkept(raw: bytes) -> bool:
    return _RAWKEPT_PROBE_RE.search(raw) is not None


_XMP_CLOSE_RE = re.compile(rb"</xmp(?:\s[^>]*)?>", re.I)


def decode_span_rawkept(raw: bytes, charset: str, strip=strip_markup) -> str:
    """decode_span for spans containing <xmp>/<plaintext>: normal
    segments take the regular markup-strip + entity path; raw-kept
    content is charset-decoded and whitespace-normalized ONLY (no tag
    strip, no entity substitution — per spec the bytes are literal
    text). plaintext has no close tag: content runs to the span end."""
    parts = []
    seg_start = 0  # start of the current normal segment
    cursor = 0     # search resumes here (may be past skipped islands)
    n = len(raw)
    while cursor < n:
        m = _RAWKEPT_SPLIT_RE.search(raw, cursor)
        if m is None:
            break
        if m.group(2) is None:
            # comment/CDATA or script/style/textarea island: opaque to
            # raw-kept opens (lexer precedence); it stays inside the
            # normal segment for the regular strip pass
            cursor = max(m.end(), cursor + 1)
            continue
        pre = raw[seg_start : m.start()]
        if pre:
            t = decode_stripped(strip(pre), charset)
            if t:
                parts.append(t)
        if m.group(2).lower() == b"plaintext":
            content = raw[m.end() :]
            nxt = n
        else:
            c = _XMP_CLOSE_RE.search(raw, m.end())
            if c is None:
                content = raw[m.end() :]
                nxt = n
            else:
                content = raw[m.end() : c.start()]
                nxt = c.end()
        t = _normalize_text(_charset_decode(content, charset))
        if t:
            parts.append(t)
        seg_start = cursor = nxt
    tail = raw[seg_start:]
    if tail:
        t = decode_stripped(strip(tail), charset)
        if t:
            parts.append(t)
    return "\n".join(parts)


_ASCII_PROBE = bytes(range(128))
# Adversarial shift/escape sequences: every CPython codec that
# reinterprets pure-ASCII byte sequences is tripped by one of these —
# iso2022_* ("\x1b$B...\x1b(B" shifts charsets), utf-7 ("+ADw-" is
# base64 for "<"), hz ("~{" shifts to GB), unicode_escape ("\n" the
# two-byte sequence becomes one LF), raw_unicode_escape ("A").
# idna ("xn--" punycode labels decode to non-ASCII). A codec that
# decodes BOTH probes exactly like ASCII treats every ASCII byte as
# itself, statelessly.
_ASCII_PROBE2 = b"\x1b$B@\x1b(B +ADw- ~{x}~ \\n \\u0041 ~\nq.xn--nxasmq6b.x"
_ASCII_COMPAT_MEMO: dict = {}


def is_ascii_compatible(charset: str) -> bool:
    """True when ``charset`` decodes every pure-ASCII byte string
    exactly like ASCII — the precondition for the fused byte-level
    normalization kernel (webx/_ctok.c norm_fast). Probed by
    strict-decoding all 128 ASCII bytes plus an adversarial string of
    shift/escape sequences (see _ASCII_PROBE2): stateful or escape-
    interpreting codecs either raise or produce different text and are
    excluded. Memoized per charset label."""
    hit = _ASCII_COMPAT_MEMO.get(charset)
    if hit is not None:
        return hit
    if charset == "x-user-defined":
        ok = True  # ASCII passthrough by definition (only >= 0x80 remap)
    else:
        # a codec that warns on ASCII input (unicode_escape's invalid
        # escapes) counts as incompatible, and the probe stays silent
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                ok = (
                    _ASCII_PROBE.decode(charset) == _ASCII_PROBE.decode("ascii")
                    and _ASCII_PROBE2.decode(charset)
                    == _ASCII_PROBE2.decode("ascii")
                )
            except Exception:
                ok = False
    _ASCII_COMPAT_MEMO[charset] = ok
    return ok


def truncate_at_sentinel(col, sentinel: str):
    """Attention-decode `<STOP>` truncation (reference
    mindocr/postprocess/rec_postprocess.py:213-218) as a column op: text
    BEFORE the first sentinel occurrence; a sequence with NO sentinel
    decodes to the EMPTY string (the reference returns "" there too —
    an unterminated attention decode is unreliable, not
    truncate-at-end). JVM-side `instr`/`substring`, codegen-friendly."""
    from pyspark.sql import functions as F

    pos = F.instr(col, sentinel)
    return F.when(pos > 0, F.substring(col, 1, pos - 1)).otherwise(F.lit(""))

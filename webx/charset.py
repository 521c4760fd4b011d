"""Deterministic charset sniffing + decode policy for raw page bytes.

Policy (SURVEY.md §7.3 "binary html with arbitrary charsets"):

1. normalize the byte stream: BOM-marked UTF-16 is transcoded to UTF-8,
   a UTF-8 BOM is stripped, and BOM-less UTF-16 is detected from the
   NUL-interleave of a leading ``<`` (the lexer requires ASCII-transparent
   bytes — '<' must be one byte);
2. prescan the first 1024 bytes with the WHATWG "prescan a byte stream to
   determine its encoding" algorithm (html.spec.whatwg.org, public):
   comments are skipped, only ``<meta>`` attributes count, the ``content``
   form needs the ``http-equiv=content-type`` pragma, and a declared
   UTF-16 resolves to UTF-8 (the bytes being prescanned are ASCII-ish, so
   the label is self-refuting — per spec);
3. resolve the label through the WHATWG encodings registry (labels →
   Python codecs; e.g. ``iso-8859-1``/``ascii``/``latin1`` → cp1252,
   ``gb2312`` → gbk, ``shift_jis``/``sjis`` → cp932);
4. try the resolved codec, then utf-8; final fallback latin-1 (total —
   never fails), flagged ``charset_fallback``.

The reference's bad-sample policy is *silent random substitution*
(mindocr/data/det_dataset.py:100-102); ours is an explicit ``status``
column so bad rows are counted, never hidden.
"""

from __future__ import annotations

import re
from typing import Tuple

# Single source for the declaration pattern: the imperative sniffing
# path compiles it over bytes; the declarative column op (urls.page_metadata)
# applies the same text as a (?i) Spark regexp. Java-regex/RE2-safe.
CHARSET_DECL_PATTERN = r"charset\s*=\s*[\"']?\s*([a-zA-Z0-9._-]+)"
_CHARSET_RE = re.compile(CHARSET_DECL_PATTERN.encode(), re.I)

# WHATWG encodings registry (encoding.spec.whatwg.org — public), labels
# mapped onto the Python codec that reproduces the spec decoder:
# the latin1/ascii/iso-8859-1 label family IS windows-1252 on the web,
# Shift_JIS is the Windows superset (cp932), EUC-KR is windows-949
# (cp949). Single-byte sets Python lacks a 1:1 name for keep their
# closest stdlib codec.
_WHATWG_LABELS: dict = {}


def _reg(codec: str, *labels: str) -> None:
    for lb in labels:
        _WHATWG_LABELS[lb] = codec


_reg("utf-8", "unicode-1-1-utf-8", "unicode11utf8", "unicode20utf8",
     "utf-8", "utf8", "x-unicode20utf8")
_reg("cp866", "866", "cp866", "csibm866", "ibm866")
_reg("iso8859-2", "csisolatin2", "iso-8859-2", "iso-ir-101", "iso8859-2",
     "iso88592", "iso_8859-2", "iso_8859-2:1987", "l2", "latin2")
_reg("iso8859-3", "csisolatin3", "iso-8859-3", "iso-ir-109", "iso8859-3",
     "iso88593", "iso_8859-3", "iso_8859-3:1988", "l3", "latin3")
_reg("iso8859-4", "csisolatin4", "iso-8859-4", "iso-ir-110", "iso8859-4",
     "iso88594", "iso_8859-4", "iso_8859-4:1988", "l4", "latin4")
_reg("iso8859-5", "csisolatincyrillic", "cyrillic", "iso-8859-5",
     "iso-ir-144", "iso8859-5", "iso88595", "iso_8859-5", "iso_8859-5:1988")
_reg("iso8859-6", "arabic", "asmo-708", "csiso88596e", "csiso88596i",
     "csisolatinarabic", "ecma-114", "iso-8859-6", "iso-8859-6-e",
     "iso-8859-6-i", "iso-ir-127", "iso8859-6", "iso88596", "iso_8859-6",
     "iso_8859-6:1987")
_reg("iso8859-7", "csisolatingreek", "ecma-118", "elot_928", "greek",
     "greek8", "iso-8859-7", "iso-ir-126", "iso8859-7", "iso88597",
     "iso_8859-7", "iso_8859-7:1987", "sun_eu_greek")
_reg("iso8859-8", "csiso88598e", "csisolatinhebrew", "hebrew", "iso-8859-8",
     "iso-8859-8-e", "iso-ir-138", "iso8859-8", "iso88598", "iso_8859-8",
     "iso_8859-8:1988", "visual")
_reg("iso8859-8", "csiso88598i", "iso-8859-8-i", "logical")
_reg("iso8859-10", "csisolatin6", "iso-8859-10", "iso-ir-157", "iso8859-10",
     "iso885910", "l6", "latin6")
_reg("iso8859-13", "iso-8859-13", "iso8859-13", "iso885913")
_reg("iso8859-14", "iso-8859-14", "iso8859-14", "iso885914")
_reg("iso8859-15", "csisolatin9", "iso-8859-15", "iso8859-15", "iso885915",
     "iso_8859-15", "l9")
_reg("iso8859-16", "iso-8859-16")
_reg("koi8-r", "cskoi8r", "koi", "koi8", "koi8-r", "koi8_r")
_reg("koi8-u", "koi8-ru", "koi8-u")
_reg("mac-roman", "csmacintosh", "mac", "macintosh", "x-mac-roman")
_reg("cp874", "dos-874", "iso-8859-11", "iso8859-11", "iso885911",
     "tis-620", "windows-874")
_reg("cp1250", "cp1250", "windows-1250", "x-cp1250")
_reg("cp1251", "cp1251", "windows-1251", "x-cp1251")
_reg("cp1252", "ansi_x3.4-1968", "ascii", "cp1252", "cp819", "csisolatin1",
     "ibm819", "iso-8859-1", "iso-ir-100", "iso8859-1", "iso88591",
     "iso_8859-1", "iso_8859-1:1987", "l1", "latin1", "us-ascii",
     "windows-1252", "x-cp1252")
_reg("cp1253", "cp1253", "windows-1253", "x-cp1253")
_reg("cp1254", "cp1254", "csisolatin5", "iso-8859-9", "iso-ir-148",
     "iso8859-9", "iso88599", "iso_8859-9", "iso_8859-9:1989", "l5",
     "latin5", "windows-1254", "x-cp1254")
_reg("cp1255", "cp1255", "windows-1255", "x-cp1255")
_reg("cp1256", "cp1256", "windows-1256", "x-cp1256")
_reg("cp1257", "cp1257", "windows-1257", "x-cp1257")
_reg("cp1258", "cp1258", "windows-1258", "x-cp1258")
_reg("x-user-defined", "x-user-defined")
_reg("gbk", "chinese", "csgb2312", "csiso58gb231280", "gb2312", "gb_2312",
     "gb_2312-80", "gbk", "iso-ir-58", "x-gbk")
_reg("gb18030", "gb18030")
_reg("big5", "big5", "big5-hkscs", "cn-big5", "csbig5", "x-x-big5")
_reg("euc_jp", "cseucpkdfmtjapanese", "euc-jp", "x-euc-jp")
_reg("iso2022_jp", "csiso2022jp", "iso-2022-jp")
_reg("cp932", "csshiftjis", "ms932", "ms_kanji", "shift-jis", "shift_jis",
     "sjis", "windows-31j", "x-sjis")
_reg("cp949", "cseuckr", "csksc56011987", "euc-kr", "iso-ir-149", "korean",
     "ks_c_5601-1987", "ks_c_5601-1989", "ksc5601", "ksc_5601",
     "windows-949")
_reg("utf-16be", "unicodefffe", "utf-16be")
_reg("utf-16le", "csunicode", "iso-10646-ucs-2", "ucs-2", "unicode",
     "unicodefeff", "utf-16", "utf-16le")

# 0x80-0xFF → U+F780-U+F7FF (the x-user-defined decoder, private-use plane)
_XUD_TABLE = {b: 0xF780 + b - 0x80 for b in range(0x80, 0x100)}


def normalize_input_bytes(html: bytes) -> bytes:
    """BOM / UTF-16 normalization BEFORE byte-level tokenization. The
    lexer requires ASCII-transparent bytes ('<' must be one byte);
    UTF-16 pages — BOM-marked, or BOM-less detected from the NUL
    interleave of a leading '<' — are transcoded to UTF-8; span offsets
    then index the transcoded buffer, which IS the html the rest of the
    pipeline sees. A UTF-8 BOM is stripped (it is not content).
    Undecodable UTF-16 falls through untouched to the explicit fallback
    policy."""
    head = html[:4]
    if head[:2] in (b"\xff\xfe", b"\xfe\xff"):
        try:
            return html.decode("utf-16").encode("utf-8")
        except UnicodeDecodeError:
            return html
    if head[:3] == b"\xef\xbb\xbf":
        return html[3:]
    # BOM-less UTF-16: every HTML page opens with ASCII '<', so LE reads
    # b'<\x00' and BE b'\x00<'; require the next code unit to look ASCII
    # too so a stray binary blob doesn't get transcoded.
    if len(head) == 4:
        if head[0:1] == b"<" and head[1] == 0 and head[2] != 0 and head[3] == 0:
            try:
                return html.decode("utf-16-le").encode("utf-8")
            except UnicodeDecodeError:
                return html
        if head[0] == 0 and head[1:2] == b"<" and head[2] == 0 and head[3] != 0:
            try:
                return html.decode("utf-16-be").encode("utf-8")
            except UnicodeDecodeError:
                return html
    return html


# -------------------------------------------------------- WHATWG prescan

_COMMENT_B_RE = re.compile(rb"<!--.*?-->", re.S)
_META_B_RE = re.compile(
    rb"<meta[\s/]((?:[^>\"']|\"[^\"]*\"|'[^']*')*)>", re.I | re.S
)
_ATTR_B_RE = re.compile(
    rb"([a-zA-Z][a-zA-Z0-9-]*)\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>]+)"
)


def _meta_attrs(raw: bytes) -> dict:
    out = {}
    for m in _ATTR_B_RE.finditer(raw):
        k = m.group(1).lower().decode("ascii")
        v = m.group(2)
        if v[:1] in (b'"', b"'"):
            v = v[1:-1]
        if k not in out:  # first occurrence wins, per spec
            out[k] = v.strip()
    return out


_FAST_META = b'<meta charset="utf-8"'


def sniff_charset(html: bytes, default: str = "utf-8") -> str:
    """WHATWG prescan over the first 1024 bytes: comments are skipped
    (a ``<meta charset>`` inside ``<!-- -->`` never counts, an
    unterminated comment hides everything after it), only ``<meta>``
    attributes are inspected, the ``content=`` form requires the
    ``http-equiv=content-type`` pragma, and a declared UTF-16 label
    resolves to UTF-8 (spec step 9.4 — ASCII-shaped bytes can't be
    UTF-16). Unknown/unresolvable labels fall through to ``default``.

    Fast paths (behavior-identical, differential-fuzzed): no ``<meta``
    in the head at all -> ``default`` without running the regex; the
    FIRST meta is the canonical ``<meta charset="utf-8">`` (or its
    ``/>`` XHTML form) with no ``<!--`` before it -> utf-8 directly
    (a comment can only hide the meta by STARTING before it; later
    comments are substituted away without touching the earlier match).
    The immediate ``>`` makes the regex match guaranteed; anything
    else takes the full prescan."""
    head = html[:1024]
    hl = head.lower()
    q = hl.find(b"<meta")
    if q == -1:
        return default  # _META_B_RE cannot match; comments irrelevant
    if hl.find(b"<!--", 0, q) == -1 and hl[q : q + 21] == _FAST_META:
        tail = hl[q + 21 : q + 23]
        if tail[:1] == b">" or tail == b"/>":
            return "utf-8"
    return _sniff_prescan(head, default)


def _sniff_prescan(head: bytes, default: str) -> str:
    """The full WHATWG prescan (reference path; the fast paths above
    are differential-fuzzed against calling this directly)."""
    if b"<!--" in head:  # comment stripping only when comments exist
        head = _COMMENT_B_RE.sub(b" ", head)
        cut = head.find(b"<!--")  # unterminated comment swallows the rest
        if cut >= 0:
            head = head[:cut]
    for m in _META_B_RE.finditer(head):
        attrs = _meta_attrs(m.group(1))
        label: bytes | None = None
        if "charset" in attrs:
            label = attrs["charset"]
        elif b"content-type" in attrs.get("http-equiv", b"").lower():
            cm = _CHARSET_RE.search(attrs.get("content", b""))
            if cm:
                label = cm.group(1)
        if not label:
            continue
        name = normalize_charset_name(label.decode("ascii", "ignore"))
        if name is None:
            continue
        if name in ("utf-16le", "utf-16be"):
            name = "utf-8"
        return name
    return default


def normalize_charset_name(name: str) -> "str | None":
    """Resolve a charset label through the WHATWG registry; None for a
    label the registry does not list, which callers treat as no label
    at all, as a browser does (so a Python-only codec name such as
    ``punycode`` or ``unicode_escape`` never decodes a page)."""
    return _WHATWG_LABELS.get(name.strip().lower())


def decode_bytes(raw: bytes, charset: str) -> Tuple[str, str, str]:
    """→ (text, status, effective_codec); status ∈ {ok, charset_fallback}.

    The effective codec is what actually decoded the bytes — span
    decoding MUST use it (not the declared charset) or a misdeclared
    page decodes as mojibake while status correctly says fallback."""
    if charset == "x-user-defined":
        # WHATWG x-user-defined: ASCII passthrough, 0x80-0xFF → private
        # use U+F780-U+F7FF (no stdlib codec; latin-1 total + translate)
        return raw.decode("latin-1").translate(_XUD_TABLE), "ok", charset
    try:
        return raw.decode(charset), "ok", charset
    except (UnicodeDecodeError, LookupError):
        pass
    if charset != "utf-8":
        try:
            return raw.decode("utf-8"), "charset_fallback", "utf-8"
        except UnicodeDecodeError:
            pass
    return raw.decode("latin-1"), "charset_fallback", "latin-1"

"""HTML data-table extraction → structured (row, col, cell) rows.

The extractor's block pipeline treats layout tables as prose chrome
(fixture 42's newsletter); this module is the complementary lane: the
tables whose CONTENT is the data — product specs, standings, infoboxes —
become relational rows, the web-table-corpus shape (WDC Web Tables /
TURL-style pretraining data). The reference analog is the format
converter family (mindocr tools/dataset_converters/*: annotation
containers → one normalized tabular record per region); here the
container is ``<table>`` markup itself.

Parsing is a byte-level structural scan in the lexer's discipline
(webx/tokenize.py): comments/CDATA and script/style/textarea islands are
blanked FIRST (they hide structural tags — ``<!-- </table> -->`` must
not close anything), then only the table-structural tags
(``table/tr/td/th/thead/tbody/tfoot/caption``) drive a stack machine;
every byte between structural tags is attributed to the innermost open
cell, which makes NESTED tables exact: an inner table's text belongs to
the inner table's cells, never to the outer cell. Inline markup inside a
cell (links, bold, spans, even ``<p>``/``<br>``) stays in the cell's
bytes and is removed by the stage-2 strip kernel at decode time.

FROZEN semantics (tests + the synth oracle depend on these):

* implicit closures: ``<tr>``/``<td>``/``<th>`` close the open cell
  (and, for ``<tr>``, commit the open row); ``thead/tbody/tfoot`` tags
  commit the open row; ``</table>`` or EOF commits everything open.
* a ``<td>``/``<th>`` with no enclosing ``<tr>`` opens an implicit row.
* rows with zero cells are skipped and do not consume a row index.
* self-closing structural tags (``<table/>``) are no-ops (mirrors the
  lexer's treatment of self-closed region opens).
* cell text = markup-strip → charset decode → entity substitution →
  whitespace-collapse to ONE line (all whitespace runs become a single
  space, trimmed) — byte-compatible with the synth oracle's norm form.
* ``caption`` = the first ``<caption>`` region's text, same normalize.
* data-vs-layout classifier (the WDC-style heuristic, frozen):
  a table is DATA iff it has at least one non-empty cell AND
  ( it contains a ``<th>`` cell
    OR ( >= 2 committed rows AND a row of >= 2 cells
         AND mean cell text length <= 60 chars
         AND anchor-text ratio <= 0.5 ) ).
  Link farms (ratio > 0.5), single-column article wrappers, and
  long-prose layout grids all fail; header-carrying spec/standings
  tables pass.
* ``table_idx`` numbers the EMITTED (data) tables of a document in
  document order of their ``<table>`` open tag.

Relation to ``webx.metadata.html_tables``: that is the all-JVM quick
lane (nested ``regexp_extract_all`` + ``posexplode`` — flat row scan, no
nesting exactness, no classifier, no caption, lossy-utf8 decode only).
This module is the exact lane: correct nesting, implicit closures,
charset-aware entity decode, and the data/layout classifier. Use the
quick lane for corpus-wide grid statistics, this one to mine clean table
corpora.

Scale shape: one narrow ``mapInPandas`` over (url, html) — same plan as
run_extraction (pruned scan → Arrow batches → rows), no shuffle, no
driver collect; output explodes to one row per cell.
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator, List, Optional, Tuple

import pandas as pd

from webx.config import ExtractConfig
from webx.extract import _doc_front, _hints, lane_columns
from webx.recognize import _COMMENT_RE, _RAWTEXT_RE, decode_span

# quote-aware structural tag (the _BLOCKTAG_RE attr grammar): a quoted
# '>' inside an attribute must not terminate the tag early
_STRUCT_RE = re.compile(
    rb"<(/?)(table|thead|tbody|tfoot|caption|tr|td|th)"
    rb"((?:[\s/](?:[^>\"']|\"[^\"]*\"|'[^']*')*)?)>",
    re.I,
)
_ANCHOR_RE = re.compile(
    rb"<a(?=[\s/>])(?:[^>\"']|\"[^\"]*\"|'[^']*')*>(.*?)</a(?:\s[^>]*)?>",
    re.I | re.S,
)
_TAG_SUB_RE = re.compile(rb"<[^>]*>")
_WS_BYTES_RE = re.compile(rb"[ \t\r\n\f\v]+")

MAX_CELL_CHARS_MEAN = 60.0   # data tables hold short facts, not prose
MAX_LINK_RATIO = 0.5         # link farms are navigation, not data


class _Table:
    __slots__ = ("order", "rows", "cur_row", "cell", "cell_th", "cap",
                 "in_cap", "saw_cap", "has_th")

    def __init__(self, order: int):
        self.order = order
        self.rows: List[List[Tuple[bool, bytes]]] = []
        self.cur_row: Optional[List[Tuple[bool, bytes]]] = None
        self.cell: Optional[List[bytes]] = None
        self.cell_th = False
        self.cap: List[bytes] = []
        self.in_cap = False
        self.saw_cap = False
        self.has_th = False

    def close_cell(self) -> None:
        if self.cell is not None:
            if self.cur_row is None:
                self.cur_row = []
            self.cur_row.append((self.cell_th, b"".join(self.cell)))
            self.cell = None
            self.cell_th = False

    def commit_row(self) -> None:
        self.close_cell()
        if self.cur_row is not None:
            if self.cur_row:  # empty rows don't consume a row index
                self.rows.append(self.cur_row)
            self.cur_row = None


def _tlen(raw: bytes) -> int:
    """Non-whitespace text bytes after naive tag removal (classifier
    feature only — decode-exactness is not needed for a ratio)."""
    return len(_WS_BYTES_RE.sub(b"", _TAG_SUB_RE.sub(b"", raw)))


def _one_line(text: str) -> str:
    return " ".join(text.split())


def parse_tables(html: bytes, charset: str) -> List[dict]:
    """All DATA tables of one document →
    [{order, caption, rows: [[(is_th, cell_text), …], …]}, …]."""
    if b"<t" not in html and b"<T" not in html:  # cheap probe
        return []
    # lexer precedence: rawtext islands and comments hide structure
    cleaned = _RAWTEXT_RE.sub(b" ", html)
    cleaned = _COMMENT_RE.sub(b" ", cleaned)
    stack: List[_Table] = []
    done: List[_Table] = []
    order = 0
    pos = 0
    for m in _STRUCT_RE.finditer(cleaned):
        if stack:
            seg = cleaned[pos : m.start()]
            if seg:
                top = stack[-1]
                if top.cell is not None:
                    top.cell.append(seg)
                elif top.in_cap:
                    top.cap.append(seg)
        pos = m.end()
        closing = m.group(1) == b"/"
        name = m.group(2).lower()
        selfclosed = m.group(3).rstrip().endswith(b"/")
        if selfclosed and not closing:
            continue  # self-closed structural tag: no-op
        if name == b"table":
            if not closing:
                stack.append(_Table(order))
                order += 1
            elif stack:
                t = stack.pop()
                t.commit_row()
                done.append(t)
            continue
        if not stack:
            continue  # structural soup outside any table
        top = stack[-1]
        if name == b"caption":
            top.close_cell()
            # only the FIRST <caption> element is eligible, even when it
            # is empty — a saw flag, not `not top.cap`, so a later second
            # caption after an empty first one is never captured
            top.in_cap = not closing and not top.saw_cap
            if not closing:
                top.saw_cap = True
        elif name == b"tr":
            top.commit_row()
            if not closing:
                top.cur_row = []
        elif name in (b"td", b"th"):
            top.close_cell()
            if not closing:
                if top.cur_row is None:
                    top.cur_row = []  # implicit row
                top.cell = []
                top.cell_th = name == b"th"
                if name == b"th":
                    top.has_th = True
        else:  # thead / tbody / tfoot
            top.commit_row()
    if stack:  # trailing bytes after the last structural tag
        seg = cleaned[pos:]
        if seg:
            top = stack[-1]
            if top.cell is not None:
                top.cell.append(seg)
            elif top.in_cap:
                top.cap.append(seg)
    while stack:  # EOF closes everything open
        t = stack.pop()
        t.commit_row()
        done.append(t)

    out = []
    for t in sorted(done, key=lambda t: t.order):
        if not t.rows:
            continue
        total_raw = 0
        link_raw = 0
        n_cells = 0
        for row in t.rows:
            for _, raw in row:
                total_raw += _tlen(raw)
                link_raw += sum(_tlen(g) for g in _ANCHOR_RE.findall(raw))
                n_cells += 1
        if total_raw == 0:
            continue
        decoded = [
            [(is_th, _one_line(decode_span(raw, charset)))
             for is_th, raw in row]
            for row in t.rows
        ]
        mean_chars = (
            sum(len(c) for row in decoded for _, c in row) / n_cells
        )
        wide = max(len(row) for row in decoded) >= 2
        is_data = t.has_th or (
            len(decoded) >= 2
            and wide
            and mean_chars <= MAX_CELL_CHARS_MEAN
            and (link_raw / total_raw) <= MAX_LINK_RATIO
        )
        if not is_data:
            continue
        out.append(
            {
                "order": t.order,
                "caption": _one_line(decode_span(b"".join(t.cap), charset))
                if t.cap
                else "",
                "rows": decoded,
            }
        )
    return out


def tables_batch(
    pdf: pd.DataFrame, cfg: ExtractConfig, charset_col: "str | None" = None
) -> pd.DataFrame:
    out = {
        "url": [], "table_idx": [], "row_idx": [], "col_idx": [],
        "header": [], "cell": [], "caption": [],
    }
    for url, raw, hint in zip(
        pdf["url"].tolist(), pdf["html"].tolist(), _hints(pdf, charset_col)
    ):
        html, meta, _ = _doc_front(raw, hint, cfg)
        for t_idx, tab in enumerate(parse_tables(html, meta["charset"])):
            for r_idx, row in enumerate(tab["rows"]):
                for c_idx, (is_th, cell) in enumerate(row):
                    out["url"].append(url)
                    out["table_idx"].append(t_idx)
                    out["row_idx"].append(r_idx)
                    out["col_idx"].append(c_idx)
                    out["header"].append(is_th)
                    out["cell"].append(cell)
                    out["caption"].append(tab["caption"])
    return pd.DataFrame(out)


def run_table_extraction(
    pages, cfg: Optional[ExtractConfig] = None, charset_col: Optional[str] = None
):
    """pages(url, html, …) → one row per data-table cell:
    (url, table_idx, row_idx, col_idx, header, cell, caption).
    Narrow plan: pruned two-column scan → one Arrow mapInPandas.
    ``charset_col`` names a per-row HTTP-header charset hint column, as
    in run_extraction."""
    from pyspark.sql import types as T

    cfg = cfg or ExtractConfig()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("table_idx", T.IntegerType()),
            T.StructField("row_idx", T.IntegerType()),
            T.StructField("col_idx", T.IntegerType()),
            T.StructField("header", T.BooleanType()),
            T.StructField("cell", T.StringType()),
            T.StructField("caption", T.StringType()),
        ]
    )

    cols, charset_col = lane_columns(pages, charset_col)

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield tables_batch(pdf, cfg, charset_col)

    return pages.select(*cols).mapInPandas(fn, schema=schema)

"""URL operators for crawl pipelines — pure column expressions.

Canonicalization is the key-discipline primitive for everything keyed by
url (dedup, partitioning, politeness): the formulas are frozen
regexp/string expressions so a SQL oracle reproduces them exactly, and
they run entirely in whole-stage codegen (no Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_SCHEME_HOST = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)"


def host(url: Column | str) -> Column:
    """Lower-cased host (authority without port/userinfo)."""
    h = F.lower(F.regexp_extract(url, _SCHEME_HOST, 2))
    h = F.regexp_replace(h, r"^[^@]*@", "")   # strip userinfo
    return F.regexp_replace(h, r":\d+$", "")  # strip port


def normalize_url(url: Column | str) -> Column:
    """Deterministic canonical form:

    1. strip the fragment;
    2. lower-case scheme and authority;
    3. drop default ports (:80 http, :443 https);
    4. drop a bare trailing slash on an empty path.
    """
    u = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, _SCHEME_HOST, 1))
    auth = F.lower(F.regexp_extract(u, _SCHEME_HOST, 2))
    rest = F.regexp_replace(u, _SCHEME_HOST, "")
    auth = F.when(
        (scheme == "http") & auth.endswith(":80"),
        F.regexp_replace(auth, r":80$", ""),
    ).when(
        (scheme == "https") & auth.endswith(":443"),
        F.regexp_replace(auth, r":443$", ""),
    ).otherwise(auth)
    rest = F.when(rest == "/", F.lit("")).otherwise(rest)
    return F.when(
        F.regexp_extract(u, _SCHEME_HOST, 1) == "", u  # not scheme://host shaped
    ).otherwise(F.concat(scheme, F.lit("://"), auth, rest))


def path_depth(url: Column | str) -> Column:
    """Number of non-empty path segments."""
    path = F.regexp_replace(
        F.regexp_replace(url, _SCHEME_HOST, ""), r"[?#].*$", ""
    )
    return F.size(F.filter(F.split(path, "/"), lambda s: s != ""))


def tld(url: Column | str) -> Column:
    """Last dot-label of the host (naive TLD — registrable_domain below
    is the public-suffix-aware grouping key)."""
    return F.regexp_extract(host(url), r"\.([^.]+)$", 1)


# Multi-label public suffixes (subset of the Mozilla Public Suffix List,
# publicsuffix.org — public data; the full list is a config-file swap).
# Only suffixes under which REGISTRATIONS happen belong here: grouping
# by registrable domain (eTLD+1) is what makes per-domain caps and
# crawl budgets correct when a mega-site splits across subdomains —
# "a.co.uk" and "b.co.uk" are DIFFERENT owners, while "a.example.com"
# and "b.example.com" are the same one.
PSL_MULTI_SUFFIXES = (
    "ac.uk", "co.uk", "gov.uk", "ltd.uk", "me.uk", "net.uk", "org.uk",
    "plc.uk", "sch.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "id.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "co.kr", "or.kr", "go.kr", "ac.kr",
    "com.br", "net.br", "org.br", "gov.br",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn",
    "com.mx", "org.mx", "gob.mx",
    "co.in", "net.in", "org.in", "gov.in", "ac.in",
    "co.za", "org.za", "gov.za", "ac.za",
    "com.ar", "com.tr", "com.tw", "com.hk", "com.sg", "com.my",
    "co.nz", "org.nz", "net.nz", "govt.nz",
    "co.id", "or.id", "ac.id", "go.id",
    # private-section entries where per-user registrations live
    "github.io", "gitlab.io", "blogspot.com", "wordpress.com",
    "herokuapp.com", "netlify.app", "web.app", "pages.dev",
    "s3.amazonaws.com", "cloudfront.net",
)


_PSL2 = tuple(s for s in PSL_MULTI_SUFFIXES if s.count(".") == 1)
_PSL3 = tuple(s for s in PSL_MULTI_SUFFIXES if s.count(".") == 2)


def registrable_domain(url: Column | str) -> Column:
    """eTLD+1 grouping key: the last two host labels, plus one more
    label for each extra level of the matched public suffix (two-label
    suffixes like co.uk → last three labels; three-label suffixes like
    s3.amazonaws.com → last four). Hosts with a single label
    (localhost, intranet names) and bare suffixes group as themselves.
    Pure codegen (split/slice/isin) — no UDF, no join; the suffix set
    compiles into the expression. ``slice`` past the array start yields
    [] → empty join string → no isin match, so short hosts are safe."""
    h = host(url)
    parts = F.split(h, r"\.")
    n = F.size(parts)
    last2 = F.array_join(F.slice(parts, -2, 2), ".")
    last3 = F.array_join(F.slice(parts, -3, 3), ".")
    last4 = F.array_join(F.slice(parts, -4, 4), ".")
    return (
        F.when(n <= 2, h)
        .when(last3.isin(*_PSL3), F.when(n == 3, h).otherwise(last4))
        .when(last2.isin(*_PSL2), last3)
        .otherwise(last2)
    )


def url_path_template(url: Column | str) -> Column:
    """Generalized path template: numeric segments → ``{n}``, hex ids
    (≥8 chars) and UUIDs → ``{h}``, other segments kept verbatim; query
    and fragment dropped. The grouping key URL-pattern mining uses —
    ``/article/8372/comments`` and ``/article/9911/comments`` collapse
    to ``/article/{n}/comments``, so per-template page counts expose
    infinite facet/calendar spaces the crawl budget must cap. Pure
    codegen: three regexp_replace passes over the path."""
    path = F.regexp_replace(
        F.regexp_replace(url, _SCHEME_HOST, ""), r"[?#].*$", ""
    )
    t = F.regexp_replace(path, r"(?<=/)\d+(?=/|$)", "{n}")
    t = F.regexp_replace(
        t, r"(?<=/)[0-9a-fA-F-]{8,}(?=/|$)", "{h}"
    )
    return F.when(t == "", F.lit("/")).otherwise(t)


def url_trap_signals(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds the three classic crawl-trap indicators a frontier gates on:

    * ``trap_repeat`` — a path segment immediately repeats (``/a/a/``),
      the self-referencing-relative-link recursion signature;
    * ``trap_depth`` — more than 8 path segments (calendar descents,
      session-path mirrors);
    * ``trap_params`` — more than 5 query parameters (faceted-search
      blowup).

    Pure codegen; the disjunction is ``is_trap``. Thresholds are the
    conventional crawler defaults, overridable upstream by recomputing
    from the same primitives."""
    u = F.col(url_col)
    path = F.regexp_replace(F.regexp_replace(u, _SCHEME_HOST, ""), r"[?#].*$", "")
    q = F.regexp_extract(u, r"\?([^#]*)", 1)
    n_params = F.when(q == "", F.lit(0)).otherwise(
        F.size(F.split(q, "&"))
    )
    rep = path.rlike(r"/([^/]+)/\1(/|$)")
    depth = F.size(F.filter(F.split(path, "/"), lambda s: s != ""))
    return df.select(
        "*",
        rep.alias("trap_repeat"),
        (depth > 8).alias("trap_depth"),
        (n_params > 5).alias("trap_params"),
        (rep | (depth > 8) | (n_params > 5)).alias("is_trap"),
    )


def with_url_features(df: DataFrame, url_col: str = "url") -> DataFrame:
    return df.select(
        "*",
        host(url_col).alias("url_host"),
        normalize_url(url_col).alias("url_norm"),
        path_depth(url_col).alias("url_depth"),
        tld(url_col).alias("url_tld"),
    )


# (?<![\w-]) so data-href / data-src style lazy-load attributes can
# NEVER hijack the real attribute (hyphen is a regex word boundary, so
# a bare \bhref would match inside "data-href")
_HREF_RE = r"""(?i)(?<![\w-])href\s*=\s*["']([^"']+)["']"""



def _lossy_utf8(html_col: str):
    """binary → string with invalid UTF-8 replaced by U+FFFD. NOT
    ``F.decode(col, 'UTF-8')`` — Spark 4 decode RAISES on malformed
    input (MALFORMED_CHARACTER_CODING), so one damaged page would fail
    the whole links stage at crawl scale. The binary→string cast wraps
    bytes unvalidated; make_valid_utf8 then repairs in place. Links are
    ASCII attributes, so damage stays confined to the corrupt spans."""
    return F.make_valid_utf8(F.col(html_col).cast("string"))


_BASE_RE = r"""(?is)<base\b[^>]*?href\s*=\s*["']([^"']+)["']"""


def base_href_raw(html_txt: Column) -> Column:
    """The page's first ``<base href>`` value, '' when absent — the ONE
    regex over the full page text; callers hoist it into its own
    projection so the CASE logic in effective_base_from references a
    cheap column, not a repeated multi-branch regex over megabytes of
    html (conditional CASE branches defeat codegen's common-
    subexpression elimination)."""
    return F.regexp_extract(html_txt, _BASE_RE, 1)


def effective_base_from(url: Column, bhref: Column) -> Column:
    """effective base given an already-extracted base href column: the
    base href may itself be root- or document-relative, so it resolves
    against the page url; '' (no base) or an unusable base
    (fragment/mailto → NULL) falls back to the url."""
    return F.when(bhref == "", url).otherwise(
        F.coalesce(resolve_href(url, bhref), url)
    )


def extract_links(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Outlink extraction — the link-graph source every web-scale corpus
    needs (PageRank/harmonic centrality inputs, spam-farm detection):
    (url, href, resolved) per anchor, document order preserved. Relative
    hrefs honor the page's ``<base href>`` (effective_base_from). Pure
    codegen: lossy UTF-8 decode (see _lossy_utf8), one ``regexp_extract_all``, one
    explode, string-op resolution. No Python, no shuffle."""
    txt = _lossy_utf8(html_col)
    hrefs = F.regexp_extract_all(txt, F.lit(_HREF_RE), 1)
    out = pages.select(
        F.col("url"),
        base_href_raw(txt).alias("_bhref"),
        F.explode(hrefs).alias("href"),
    ).select(
        "url",
        effective_base_from(F.col("url"), F.col("_bhref")).alias("_base"),
        F.col("href"),
    )
    return out.select(
        "url", "href", resolve_href(F.col("_base"), F.col("href")).alias("resolved")
    )


# the one href class resolve_href maps to NULL — shared so lanes that
# drop unresolvable targets can pre-filter on the RAW href (cheap; a
# filter on resolved-IS-NOT-NULL would push down and inline the whole
# base-resolution CASE, full-page regex included, into the predicate)
_NON_FETCH_RE = r"^(#|mailto:|javascript:|tel:|data:)"


def resolve_href(base: Column, href: Column) -> Column:
    """Resolve an anchor href against its page url (the RFC-3986 subset
    a crawler frontier needs; query-preserving):

    * absolute (``scheme://…``) → itself
    * protocol-relative (``//host/…``) → base scheme + href
    * root-relative (``/…``) → base scheme://host + href
    * ``#fragment`` / ``mailto:`` / ``javascript:`` / ``tel:`` / data → NULL
    * other (document-relative) → base directory + href
    """
    scheme = F.regexp_extract(base, _SCHEME_HOST, 1)
    authority = F.regexp_extract(base, _SCHEME_HOST, 2)
    origin = F.concat(scheme, F.lit("://"), authority)
    # base directory: strip query/fragment, then the last path segment
    base_path = F.regexp_replace(F.regexp_replace(base, r"[?#].*$", ""), r"[^/]*$", "")
    return (
        F.when(href.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(
            href.rlike(_NON_FETCH_RE),
            F.lit(None).cast("string"),
        )
        .when(href.startswith("/"), F.concat(origin, href))
        .otherwise(F.concat(base_path, href))
    )


def host_link_graph(links: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links) edges — the host-level web graph
    (one shuffle on the edge key); self-loops kept (intra-host linking
    density is itself a spam signal)."""
    return (
        links.filter(F.col("resolved").isNotNull())
        .select(host(F.col("url")).alias("src_host"), host(F.col("resolved")).alias("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )


_ANCHOR_RE = r"""(?si)<a\b([^>]*?href\s*=\s*["'][^"']+["'][^>]*)>(.*?)</a>"""
# rel token match inside the captured attrs: nofollow/ugc/sponsored are
# the three link-graph-opt-out rel values (rel is a space-separated
# token list; any of the three marks the edge as not-an-endorsement)
_REL_NOFOLLOW_RE = r"""(?i)\brel\s*=\s*["'][^"']*\b(nofollow|ugc|sponsored)\b"""


def extract_anchors(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Anchor extraction WITH link text — (url, href, resolved, anchor)
    per ``<a>``. Anchor text is the classic query-independent relevance
    signal web corpora mine (link-text indexes; anchor-based document
    descriptions). Two aligned ``regexp_extract_all`` passes over the
    same pattern (group 1 = href, group 2 = inner markup) keep pairing
    by construction; the inner markup has tags stripped and whitespace
    collapsed. Relative hrefs honor the page's ``<base href>``
    (effective_base_from); ``nofollow`` is true when the tag's rel list
    carries any link-graph-opt-out token (nofollow/ugc/sponsored) — the
    edge hygiene PageRank-style uses require. Pure codegen: no Python,
    no shuffle, one explode."""
    txt = _lossy_utf8(html_col)
    pat = F.lit(_ANCHOR_RE)
    pairs = F.arrays_zip(
        F.regexp_extract_all(txt, pat, 1).alias("attrs"),
        F.regexp_extract_all(txt, pat, 2).alias("inner"),
    )
    out = pages.select(
        F.col("url"),
        base_href_raw(txt).alias("_bhref"),
        F.explode(pairs).alias("p"),
    ).select(
        "url",
        effective_base_from(F.col("url"), F.col("_bhref")).alias("_base"),
        F.col("p"),
    ).select(
        "url",
        "_base",
        F.regexp_extract("p.attrs", _HREF_RE, 1).alias("href"),
        F.col("p.attrs").rlike(_REL_NOFOLLOW_RE).alias("nofollow"),
        F.trim(
            F.regexp_replace(
                F.regexp_replace("p.inner", r"<[^>]*>", " "), r"[ \t\r\n]+", " "
            )
        ).alias("anchor"),
    )
    return out.select(
        "url",
        "href",
        resolve_href(F.col("_base"), F.col("href")).alias("resolved"),
        "anchor",
        "nofollow",
    )


def anchor_text_index(anchors: DataFrame) -> DataFrame:
    """Link-text index: per (target, anchor text) — how many pages and
    hosts say it. The aggregation every anchor-text corpus build runs
    (e.g. document expansion for retrieval training data). One shuffle,
    on the target key; count-distinct of source hosts is exact (hosts
    per target are bounded in practice; use approx_count_distinct at
    adversarial fan-in)."""
    return (
        anchors.filter(F.col("resolved").isNotNull())
        .groupBy("resolved", "anchor")
        .agg(
            F.count("*").alias("n_refs"),
            F.countDistinct(host(F.col("url"))).alias("n_src_hosts"),
        )
    )


def filter_blocked_hosts(
    df: DataFrame, blocklist: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Drop rows whose url host appears in ``blocklist`` (one column:
    ``host``, exact lower-case match) — the UT1-blocklist / domain-deny
    curation gate.

    Broadcast LEFT ANTI join: a blocklist is a few MB even with millions
    of entries, so the probe side never shuffles — the join is a map-side
    hash lookup fused into whatever stage already scans the pages.
    """
    b = F.broadcast(blocklist.select(F.lower("host").alias("_blocked_host")))
    probe = df.withColumn("_probe_host", host(url_col))
    return probe.join(
        b, probe["_probe_host"] == b["_blocked_host"], "left_anti"
    ).drop("_probe_host")


# Patterns shared verbatim with the SQL oracle (Java-regex/RE2 subset:
# no lookaround, no backreferences). Single- or double-quoted attributes.
ROBOTS_META_RE = (
    r"""(?i)<meta\b[^>]*name\s*=\s*["']robots["'][^>]*>"""
)
_CONTENT_ATTR_RE = r"""(?i)content\s*=\s*["']([^"']*)["']"""


def robots_flags(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Page-level robots directives from ``<meta name="robots">`` — the
    index-time politeness gate (a corpus that ignores noindex ships
    content the publisher opted out of).

    Adds ``has_robots_meta`` / ``robots_noindex`` / ``robots_nofollow``.
    Pure codegen over the lossy UTF-8 decode: two regexp_extracts and two
    token tests, fused into any stage that already scans html — zero
    shuffle, zero Python. Only the FIRST robots meta tag is honored
    (browsers and Googlebot apply the most restrictive; single-tag pages
    — the overwhelming majority — are identical either way, and the
    deterministic rule keeps the SQL oracle exact).
    """
    meta = F.regexp_extract(_lossy_utf8(html_col), ROBOTS_META_RE, 0)
    content = F.regexp_extract(meta, _CONTENT_ATTR_RE, 1)
    return pages.select(
        "*",
        (meta != "").alias("has_robots_meta"),
        content.rlike(r"(?i)\bnoindex\b").alias("robots_noindex"),
        content.rlike(r"(?i)\bnofollow\b").alias("robots_nofollow"),
    )


# <link rel=canonical href=...> — rel and href in either order; the
# attrs span is captured once and href extracted from it (same
# pairing-by-construction discipline as extract_anchors)
_CANONICAL_RE = (
    r"""(?is)<link\b([^>]*\brel\s*=\s*["']canonical["'][^>]*)>"""
)
# <meta http-equiv=refresh content="N; url=..."> — the soft-redirect
# surface. Attrs captured as a span (http-equiv/content in either
# order), then the url pulled from the content value; the url= part is
# optional (a bare delay reloads in place) and the separator may be
# ';' or ',' with the target optionally inner-quoted.
_META_REFRESH_TAG_RE = (
    r"""(?is)<meta\b([^>]*\bhttp-equiv\s*=\s*["']refresh["'][^>]*)>"""
)
_REFRESH_URL_RE = (
    r"""(?i)\bcontent\s*=\s*["']\s*\d+\s*[;,]\s*url\s*=\s*'?([^"'>\s]+)"""
)


def rel_canonical(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Adds ``canonical`` — the page-declared canonical URL resolved
    against the page's effective base (the dedup signal crawl pipelines
    group on BEFORE content hashing: mirrors, tracking-parameter
    variants, and paginated views all point at one canonical). '' when
    the page declares none or the declaration is unusable (fragment).
    First declaration wins (deterministic, oracle-exact). Pure codegen:
    two regexp_extracts + the resolve CASE, zero shuffle."""
    txt = _lossy_utf8(html_col)
    pre = pages.select(
        "*",
        F.regexp_extract(
            F.regexp_extract(txt, _CANONICAL_RE, 1), _HREF_RE, 1
        ).alias("_chref"),
        base_href_raw(txt).alias("_bhref"),
    )
    resolved = F.when(F.col("_chref") == "", F.lit(None)).otherwise(
        resolve_href(
            effective_base_from(F.col("url"), F.col("_bhref")), F.col("_chref")
        )
    )
    return pre.select(
        *pages.columns, F.coalesce(resolved, F.lit("")).alias("canonical")
    )


# <link rel=alternate hreflang=... href=...> — attrs captured as one
# span; hreflang/href extracted from it so attribute order is free
_ALTERNATE_RE = r"""(?is)<link\b([^>]*\brel\s*=\s*["']alternate["'][^>]*)>"""
_HREFLANG_RE = r"""(?i)\bhreflang\s*=\s*["']([^"']+)["']"""


def hreflang_alternates(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """One row per ``<link rel=alternate hreflang>`` declaration:
    ``(url, hreflang, alt_url)`` with the target resolved against the
    page's effective base. The multilingual cluster signal bitext
    mining groups on (pages declaring each other as language
    alternates are document-aligned translation candidates — the
    WMT-style parallel-corpus source). Alternates without an hreflang
    (RSS/print alternates) are dropped; ``x-default`` is kept (callers
    filter). Pure codegen: one regexp_extract_all + explode."""
    txt = _lossy_utf8(html_col)
    alts = F.regexp_extract_all(txt, F.lit(_ALTERNATE_RE), 1)
    out = pages.select(
        F.col("url"),
        base_href_raw(txt).alias("_bhref"),
        F.explode(alts).alias("attrs"),
    ).select(
        "url",
        effective_base_from(F.col("url"), F.col("_bhref")).alias("_base"),
        F.col("attrs"),
    ).select(
        "url",
        "_base",
        F.lower(F.regexp_extract("attrs", _HREFLANG_RE, 1)).alias("hreflang"),
        F.regexp_extract("attrs", _HREF_RE, 1).alias("href"),
    )
    return out.filter(
        (F.col("hreflang") != "")
        & (F.col("href") != "")
        & ~F.col("href").rlike(_NON_FETCH_RE)
    ).select(
        "url",
        "hreflang",
        resolve_href(F.col("_base"), F.col("href")).alias("alt_url"),
    )


_IMG_RE = r"""(?is)<img\b([^>]*)>"""
_SRC_RE = r"""(?i)(?<![\w-])src\s*=\s*["']([^"']+)["']"""
# lazy-load fallbacks, tried when the img has no plain src — the
# data-src family dominates real-crawl lazy-loading markup
_LAZY_SRC_RE = r"""(?i)\bdata-(?:src|original|lazy-src)\s*=\s*["']([^"']+)["']"""
_ALT_RE = r"""(?i)\balt\s*=\s*["']([^"']*)["']"""
_WIDTH_RE = r"""(?i)\bwidth\s*=\s*["']?(\d+)"""
_HEIGHT_RE = r"""(?i)\bheight\s*=\s*["']?(\d+)"""


_SRCSET_RE = r"""(?i)(?<![\w-])srcset\s*=\s*["']([^"']+)["']"""
# srcset carriers: img and picture>source (source carries srcset only)
_SRCSET_TAG_RE = r"""(?is)<(?:img|source)\b([^>]*)>"""
_MEDIA_TAG_RE = r"""(?is)<(video|audio|source)\b([^>]*)>"""
_TYPE_RE = r"""(?i)\btype\s*=\s*["']([^"']+)["']"""
_POSTER_RE = r"""(?i)\bposter\s*=\s*["']([^"']+)["']"""


def _srcset_best(srcset: Column) -> Column:
    """Largest candidate of a ``srcset`` list: each comma-separated
    entry is ``URL [descriptor]`` with ``480w`` / ``2x`` descriptors
    (descriptorless = 1x per spec). Ranked by the numeric descriptor
    value (w and x lists are never legally mixed); ties break on the
    URL. Pure codegen: split → transform to (value, url) structs →
    array_max's lexicographic struct compare picks the winner."""
    cands = F.split(srcset, ",")

    def entry(c: Column) -> Column:
        t = F.trim(c)
        num = F.regexp_extract(t, r"\s(\d+(?:\.\d+)?)[wx]\s*$", 1)
        return F.struct(
            F.when(num == "", F.lit(1.0)).otherwise(num.cast("double")).alias("v"),
            F.regexp_extract(t, r"^(\S+)", 1).alias("u"),
        )

    best = F.array_max(F.filter(F.transform(cands, entry), lambda s: s["u"] != ""))
    return best["u"]


def image_srcset_best(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Responsive-image resolution for the caption-mining lane: one row
    per ``<img>`` carrying a ``srcset``, with ``best_src`` = the
    largest declared candidate (the variant an image-text corpus
    fetches — bigger pixels, better training signal) resolved against
    the page's effective base, plus the plain ``src`` fallback and the
    collapsed alt. Scans BOTH ``<img srcset>`` and ``<picture>``'s
    ``<source srcset>`` children (the spec-preferred modern form — a
    source element carries srcset only, never src). Images without a
    srcset are image_captions' territory and are skipped here."""
    txt = _lossy_utf8(html_col)
    imgs = F.regexp_extract_all(txt, F.lit(_SRCSET_TAG_RE), 1)
    out = pages.select(
        F.col("url"),
        base_href_raw(txt).alias("_bhref"),
        F.explode(imgs).alias("attrs"),
    ).select(
        "url",
        effective_base_from(F.col("url"), F.col("_bhref")).alias("_base"),
        F.col("attrs"),
    ).select(
        "url",
        "_base",
        F.regexp_extract("attrs", _SRCSET_RE, 1).alias("srcset"),
        F.regexp_extract("attrs", _SRC_RE, 1).alias("src"),
        _ws_collapse(F.regexp_extract("attrs", _ALT_RE, 1)).alias("alt"),
    )
    out = out.filter(F.col("srcset") != "").select(
        "url", "_base", "src", "alt",
        _srcset_best(F.col("srcset")).alias("_best_raw"),
    )
    # drop unresolvable winners on the RAW candidate (see _NON_FETCH_RE)
    out = out.filter(
        F.col("_best_raw").isNotNull()
        & ~F.col("_best_raw").rlike(_NON_FETCH_RE)
    )
    return out.select(
        "url",
        resolve_href(F.col("_base"), F.col("_best_raw")).alias("best_src"),
        F.when(F.col("src") == "", F.lit(None)).otherwise(
            resolve_href(F.col("_base"), F.col("src"))
        ).alias("fallback_src"),
        "alt",
    )


def media_sources(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Audio/video discovery — one row per ``<video>/<audio>/<source>``
    tag with a src: ``(url, tag, media_url, mime, poster_url)``, targets
    resolved against the effective base. The video-text dataset source
    (fetch the media, pair it with the page's extracted text/captions);
    ``<source>`` children carry the per-codec variants, ``poster`` the
    thumbnail an image lane can reuse. Pure codegen, one explode."""
    txt = _lossy_utf8(html_col)
    pairs = F.arrays_zip(
        F.regexp_extract_all(txt, F.lit(_MEDIA_TAG_RE), 1).alias("tag"),
        F.regexp_extract_all(txt, F.lit(_MEDIA_TAG_RE), 2).alias("attrs"),
    )
    out = pages.select(
        F.col("url"),
        base_href_raw(txt).alias("_bhref"),
        F.explode(pairs).alias("p"),
    ).select(
        "url",
        effective_base_from(F.col("url"), F.col("_bhref")).alias("_base"),
        F.col("p"),
    ).select(
        "url",
        "_base",
        F.lower("p.tag").alias("tag"),
        F.regexp_extract("p.attrs", _SRC_RE, 1).alias("src"),
        F.regexp_extract("p.attrs", _TYPE_RE, 1).alias("mime"),
        F.regexp_extract("p.attrs", _POSTER_RE, 1).alias("poster"),
    )
    out = out.filter(
        (F.col("src") != "") & ~F.col("src").rlike(_NON_FETCH_RE)
    )
    return out.select(
        "url",
        "tag",
        resolve_href(F.col("_base"), F.col("src")).alias("media_url"),
        "mime",
        F.when(F.col("poster") == "", F.lit(None)).otherwise(
            resolve_href(F.col("_base"), F.col("poster"))
        ).alias("poster_url"),
    )


def _ws_collapse(c: Column) -> Column:
    """Whitespace-collapse + trim (alt text arrives with author
    formatting)."""
    return F.trim(F.regexp_replace(c, r"[ \t\r\n]+", " "))


def image_captions(
    pages: DataFrame, html_col: str = "html", require_alt: bool = True
) -> DataFrame:
    """Image-text pairs from crawl HTML — the LAION-style multimodal
    dataset source: one row per ``<img>`` with ``(url, img_url, alt,
    width, height)``. The src resolves against the page's effective
    base (``data:`` URIs drop — inline bytes are not fetchable
    targets); declared width/height come through as ints (NULL when
    absent) so the standard tiny-image filter is a plain predicate
    downstream. ``require_alt`` drops images with no or empty alt text
    — the caption IS the training signal. Attrs captured once per tag;
    src/alt/dims extract from the span, so attribute order is free.
    Pure codegen: one regexp_extract_all + explode, zero Python."""
    txt = _lossy_utf8(html_col)
    imgs = F.regexp_extract_all(txt, F.lit(_IMG_RE), 1)
    out = pages.select(
        F.col("url"),
        base_href_raw(txt).alias("_bhref"),
        F.explode(imgs).alias("attrs"),
    ).select(
        "url",
        effective_base_from(F.col("url"), F.col("_bhref")).alias("_base"),
        F.col("attrs"),
    ).select(
        "url",
        "_base",
        # plain src, else the data-src lazy-load family (the real-crawl
        # markup pattern where src is a placeholder or absent entirely)
        F.coalesce(
            F.nullif(F.regexp_extract("attrs", _SRC_RE, 1), F.lit("")),
            F.nullif(F.regexp_extract("attrs", _LAZY_SRC_RE, 1), F.lit("")),
            F.lit(""),
        ).alias("src"),
        _ws_collapse(F.regexp_extract("attrs", _ALT_RE, 1)).alias("alt"),
        F.nullif(F.regexp_extract("attrs", _WIDTH_RE, 1), F.lit("")).cast("int").alias("width"),
        F.nullif(F.regexp_extract("attrs", _HEIGHT_RE, 1), F.lit("")).cast("int").alias("height"),
    )
    out = out.filter(
        (F.col("src") != "") & ~F.col("src").rlike(_NON_FETCH_RE)
    )
    if require_alt:
        out = out.filter(F.col("alt") != "")
    return out.select(
        "url",
        resolve_href(F.col("_base"), F.col("src")).alias("img_url"),
        "alt",
        "width",
        "height",
    )


_FEED_TYPE_RE = r"""(?i)\btype\s*=\s*["']application/(rss|atom)\+xml["']"""


def pagination_links(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Adds ``next_url`` / ``prev_url`` — the ``<link rel=next/prev>``
    pagination rails, base-resolved ('' when undeclared). The stitching
    signal multi-page articles need: an extractor that stops at page 1
    ships truncated documents, so the curator follows next_url chains
    before packing. First declaration of each direction wins."""
    txt = _lossy_utf8(html_col)

    def rail(words: str) -> Column:
        pat = (
            r"""(?is)<link\b([^>]*\brel\s*=\s*["'](?:""" + words
            + r""")["'][^>]*)>"""
        )
        return F.regexp_extract(
            F.regexp_extract(txt, pat, 1), _HREF_RE, 1
        )

    pre = pages.select(
        "*",
        rail("next").alias("_next"),
        rail("prev|previous").alias("_prev"),
        base_href_raw(txt).alias("_bhref"),
    )
    base = effective_base_from(F.col("url"), F.col("_bhref"))

    def res(c: str) -> Column:
        return F.coalesce(
            F.when(F.col(c) == "", F.lit(None)).otherwise(
                resolve_href(base, F.col(c))
            ),
            F.lit(""),
        )

    return pre.select(
        *pages.columns,
        res("_next").alias("next_url"),
        res("_prev").alias("prev_url"),
    )


def feed_links(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """RSS/Atom autodiscovery — one row per
    ``<link rel=alternate type=application/(rss|atom)+xml>``:
    ``(url, feed_kind, feed_url)``, base-resolved. The discovery edge
    that connects the page corpus to the feeds lane (webx/feeds.py
    parses the fetched documents); publishers advertise their feeds
    exactly this way."""
    txt = _lossy_utf8(html_col)
    alts = F.regexp_extract_all(txt, F.lit(_ALTERNATE_RE), 1)
    out = pages.select(
        F.col("url"),
        base_href_raw(txt).alias("_bhref"),
        F.explode(alts).alias("attrs"),
    ).select(
        "url",
        effective_base_from(F.col("url"), F.col("_bhref")).alias("_base"),
        F.lower(F.regexp_extract("attrs", _FEED_TYPE_RE, 1)).alias("feed_kind"),
        F.regexp_extract("attrs", _HREF_RE, 1).alias("href"),
    )
    return out.filter(
        (F.col("feed_kind") != "")
        & (F.col("href") != "")
        & ~F.col("href").rlike(_NON_FETCH_RE)
    ).select(
        "url",
        "feed_kind",
        resolve_href(F.col("_base"), F.col("href")).alias("feed_url"),
    )


def bitext_pairs(alternates: DataFrame, page_lang: DataFrame) -> DataFrame:
    """Mutually-confirmed translation-document pairs from hreflang
    declarations: (url_a, lang_a, url_b, lang_b) where A declares B as
    its lang_b alternate AND B declares A back — the reciprocity check
    bitext miners apply before alignment (a one-way declaration is
    routinely stale or spam). ``page_lang`` maps url → lang (the
    page's own language, e.g. from language-ID). Emitted once per
    unordered pair (url_a < url_b); x-default rows never pair.

    Scale shape: one self-join of the alternates table keyed on the
    (src, dst) edge — both sides shuffle on the same join key, and the
    alternates table is tiny next to the corpus (rows ∝ declarations,
    not bytes). page_lang joins by url afterwards."""
    a = alternates.filter(F.col("hreflang") != "x-default")
    fwd = a.select(F.col("url").alias("url_a"), F.col("alt_url").alias("url_b"),
                   F.col("hreflang").alias("lang_b")).distinct()
    rev = a.select(F.col("alt_url").alias("url_a"), F.col("url").alias("url_b"))
    mutual = fwd.join(rev, ["url_a", "url_b"], "left_semi").filter(
        F.col("url_a") < F.col("url_b")
    )
    la = page_lang.select(F.col("url").alias("url_a"), F.col("lang").alias("lang_a"))
    return mutual.join(la, "url_a").select("url_a", "lang_a", "url_b", "lang_b")


def meta_refresh_target(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Adds ``refresh_url`` — the ``<meta http-equiv=refresh>`` redirect
    target resolved against the page's effective base ('' when absent
    or delay-only). The soft-redirect edge a crawler must follow (and a
    thin-content signal: pages whose only purpose is the hop)."""
    txt = _lossy_utf8(html_col)
    pre = pages.select(
        "*",
        F.regexp_extract(
            F.regexp_extract(txt, _META_REFRESH_TAG_RE, 1), _REFRESH_URL_RE, 1
        ).alias("_rraw"),
        base_href_raw(txt).alias("_bhref"),
    )
    resolved = F.when(F.col("_rraw") == "", F.lit(None)).otherwise(
        resolve_href(
            effective_base_from(F.col("url"), F.col("_bhref")), F.col("_rraw")
        )
    )
    return pre.select(
        *pages.columns, F.coalesce(resolved, F.lit("")).alias("refresh_url")
    )


TITLE_RE = r"(?i)<title[^>]*>([^<]*)</title>"


def page_metadata(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Indexing metadata as pure codegen projections: first ``<title>``
    text, the declared charset (shared pattern with the imperative
    sniffer — webx.charset.CHARSET_DECL_PATTERN), and the raw byte size.

    The charset scan is bounded to the first 1024 characters of the
    lossy decode, mirroring ``sniff_charset``'s 1024-BYTE window —
    declarations live in the ASCII head where characters are bytes, so
    the two views agree on every page whose declaration the sniffer
    would find.
    """
    from webx.charset import CHARSET_DECL_PATTERN

    txt = _lossy_utf8(html_col)
    head = F.substring(txt, 1, 1024)
    return pages.select(
        "*",
        F.regexp_extract(txt, TITLE_RE, 1).alias("page_title"),
        F.lower(
            F.regexp_extract(head, "(?i)" + CHARSET_DECL_PATTERN, 1)
        ).alias("charset_decl"),
        F.octet_length(html_col).alias("html_bytes"),
    )


def idn_homograph_audit(df: DataFrame, host_col: str = "host") -> DataFrame:
    """IDN homograph auditing over a host column — the URL-corpus
    safety gate for punycode lookalike domains (pаypal.com with a
    Cyrillic а): decode ``xn--`` ACE labels back to Unicode (RFC 3490
    ToUnicode via Python's built-in ``idna`` codec — per-label, fail
    -soft: an undecodable label keeps its ACE form), then flag

    * ``is_punycode`` — any label carries the ACE prefix (codegen), and
    * ``mixed_script`` — the decoded REGISTRABLE label mixes Latin with
      Cyrillic or Greek (codegen rlike over the decoded form). Per-label
      on purpose: an all-Cyrillic name under an ASCII TLD (мир.com) is
      ordinary IDN, not a homograph signal; Latin+Cyrillic INSIDE one
      label is the classic spoof shape (Unicode TR39's highly-restricted
      heuristic, reduced to the script pair that dominates real abuse).

    The decode is the only Python step (Arrow-batched mapInPandas over
    the distinct hosts would be the 100 TB shape; here host cardinality
    is row-bound so it runs in-line); both flags fuse into codegen."""
    import pandas as pd

    cols = df.columns

    def fn(batches):
        for pdf in batches:
            def dec(h):
                if not isinstance(h, str) or "xn--" not in h:
                    return h
                out = []
                for label in h.split("."):
                    if label.lower().startswith("xn--"):
                        try:
                            label = label.encode("ascii").decode("idna")
                        except (UnicodeError, ValueError):
                            pass  # keep ACE form — fail-soft
                    out.append(label)
                return ".".join(out)

            pdf = pdf.copy()
            pdf["decoded_host"] = pdf[host_col].map(dec)
            yield pdf

    schema = ", ".join(
        f"{c} {t}" for c, t in zip(cols, [f.dataType.simpleString() for f in df.schema.fields])
    ) + ", decoded_host string"
    decoded = df.mapInPandas(fn, schema=schema)
    first_label = F.substring_index(F.col("decoded_host"), ".", 1)
    has_latin = first_label.rlike("[a-zA-Z]")
    has_cyr_greek = first_label.rlike("[Ͱ-ϿЀ-ӿ]")
    return decoded.select(
        *cols,
        "decoded_host",
        F.col(host_col).rlike("(^|\\.)xn--").alias("is_punycode"),
        (has_latin & has_cyr_greek).alias("mixed_script"),
    )

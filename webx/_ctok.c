/* C port of webx/tokenize.py's byte-stream HTML lexer.
 *
 * Semantics are a LINE-FOR-LINE mirror of the Python reference
 * (webx/tokenize.py) including every regex backtracking corner:
 *   - _TAG_RE alternation order: comment | CDATA | doctype/PI | tag
 *   - a '<' where no alternative matches is TEXT (the regex search
 *     simply moves to the next '<')
 *   - quote-aware attribute runs; unterminated quote => the whole tag
 *     candidate fails (matching the regex's failed backtrack)
 *   - raw-text elements (script/style/textarea) skip to the matching
 *     case-insensitive close tag: "</name" then '>' or (ws [^>]* '>')
 *
 * Bit-identity with the Python tokenizer is enforced by
 * tests/test_ctokenize.py (goldens + hypothesis differential fuzz).
 *
 * ABI (ctypes):
 *   int64_t* wx_tokenize(const uint8_t* html, long n, long* out_count);
 *     returns a malloc'd array of out_count x 7 int64 fields
 *     (start, end, tlen, link_tlen, tag_cnt, heading, boiler);
 *     NULL only on malloc failure.
 *   void wx_free(int64_t* p);
 */

#include <stdint.h>
#include <stdlib.h>
#include <string.h>

static inline int is_ws(uint8_t c) {
    return c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f' || c == '\v';
}

/* word-at-a-time byte scanning (unaligned 8-byte loads + the classic
 * zero-byte trick): scans run at memchr-class speed instead of
 * ~1 byte/branch. Used by the tokenizer's text-segment counting and
 * the stage-2 normalization kernel. */
#define WX_ONES 0x0101010101010101ULL
#define WX_HIGH 0x8080808080808080ULL

static inline uint64_t wx_load64(const uint8_t* p) {
    uint64_t w;
    memcpy(&w, p, 8);
    return w;
}

/* high bit set at EXACTLY the byte positions equal to b. The textbook
 * (x - ONES) & ~x & HIGH form is detection-only: borrow propagation
 * from a true zero byte can flag neighboring nonzero bytes (false
 * positives, never false negatives). This is the exact variant —
 * required wherever the mask is popcounted or positionally decoded. */
static inline uint64_t wx_eqmask(uint64_t w, uint8_t b) {
    uint64_t x = w ^ (WX_ONES * b);
    uint64_t y = (x & ~WX_HIGH) + ~WX_HIGH;
    return ~(y | x | ~WX_HIGH);
}

/* count of non-whitespace bytes in s[a:b] (is_ws set). The branchless
 * byte loop + per-function vectorization lets gcc emit SIMD
 * compare/accumulate (pcmpeqb + psadbw) — measured faster than both
 * the plain -O2 byte loop and a hand-rolled 64-bit mask/popcount. */
__attribute__((optimize("O3", "tree-vectorize")))
static long wx_count_nonws(const uint8_t* s, long a, long b) {
    long ws = 0;
    for (long i = a; i < b; i++) {
        uint8_t c = s[i];
        ws += (c == ' ') | ((c >= 0x09) & (c <= 0x0d));
    }
    return (b - a) - ws;
}
static inline int is_alpha(uint8_t c) {
    return (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z');
}
static inline int is_name_char(uint8_t c) {
    return is_alpha(c) || (c >= '0' && c <= '9') || c == ':' || c == '_' || c == '-';
}
static inline uint8_t lo(uint8_t c) {
    return (c >= 'A' && c <= 'Z') ? (uint8_t)(c + 32) : c;
}

/* ---- tag classification (frozensets in tokenize.py) ---- */

#define F_BLOCK   1
#define F_BOILER  2   /* BOILER_TAGS that are also BLOCK (nav header footer aside form) */
#define F_HEADING 4
#define F_RAWTEXT 8
#define F_A       16
#define F_NOSCRIPT 32
#define F_TITLE   64   /* head metadata: blocks inside are boiler */
#define F_HEAD    128  /* </head> resets the title region */
#define F_BODY    256  /* <body> resets the title region */
#define F_DIV     512  /* class/id-hint boilerplate candidate container */
#define F_SECTION 1024
#define F_RAWKEPT 2048 /* xmp/plaintext: raw text that IS displayed */
#define F_PLAINTEXT 4096 /* no close tag: content runs to EOF */
#define F_DROP 8192    /* non-prose region: svg/math/select/button/... */
#define F_RUBY 16384   /* rt/rp: ruby-annotation boundary extras */

typedef struct { const char* name; int flags; } tagent;

static const tagent TAGS[] = {
    {"p", F_BLOCK}, {"div", F_BLOCK|F_DIV},
    {"h1", F_BLOCK|F_HEADING}, {"h2", F_BLOCK|F_HEADING}, {"h3", F_BLOCK|F_HEADING},
    {"h4", F_BLOCK|F_HEADING}, {"h5", F_BLOCK|F_HEADING}, {"h6", F_BLOCK|F_HEADING},
    {"li", F_BLOCK}, {"ul", F_BLOCK}, {"ol", F_BLOCK}, {"dl", F_BLOCK},
    {"dt", F_BLOCK}, {"dd", F_BLOCK}, {"table", F_BLOCK}, {"thead", F_BLOCK},
    {"tbody", F_BLOCK}, {"tfoot", F_BLOCK}, {"tr", F_BLOCK}, {"td", F_BLOCK},
    {"th", F_BLOCK}, {"br", F_BLOCK}, {"hr", F_BLOCK}, {"article", F_BLOCK},
    {"section", F_BLOCK|F_SECTION}, {"header", F_BLOCK|F_BOILER}, {"footer", F_BLOCK|F_BOILER},
    {"nav", F_BLOCK|F_BOILER}, {"aside", F_BLOCK|F_BOILER}, {"main", F_BLOCK},
    {"blockquote", F_BLOCK}, {"pre", F_BLOCK}, {"title", F_BLOCK|F_HEADING|F_TITLE},
    {"form", F_BLOCK|F_BOILER}, {"figure", F_BLOCK}, {"figcaption", F_BLOCK},
    {"fieldset", F_BLOCK}, {"legend", F_BLOCK}, {"address", F_BLOCK},
    {"summary", F_BLOCK}, {"details", F_BLOCK}, {"body", F_BLOCK|F_BODY},
    {"html", F_BLOCK}, {"head", F_BLOCK|F_HEAD},
    {"script", F_RAWTEXT}, {"style", F_RAWTEXT}, {"textarea", F_RAWTEXT},
    {"iframe", F_RAWTEXT}, {"template", F_RAWTEXT},
    {"a", F_A}, {"noscript", F_NOSCRIPT},
    {"listing", F_BLOCK},
    {"xmp", F_RAWKEPT}, {"plaintext", F_RAWKEPT|F_PLAINTEXT},
    {"svg", F_DROP}, {"math", F_DROP}, {"select", F_DROP},
    {"button", F_DROP}, {"datalist", F_DROP}, {"audio", F_DROP},
    {"video", F_DROP}, {"rt", F_DROP|F_RUBY}, {"rp", F_DROP|F_RUBY},
    {NULL, 0},
};

/* a tag name (<= 10 bytes, never NUL) lowercased and zero-padded into
 * two words: two names are equal iff their keys are */
typedef struct { uint64_t a, b; } tagkey;

static inline tagkey tag_key(const uint8_t* s, long len) {
    uint8_t buf[16] = {0};
    for (long i = 0; i < len; i++) buf[i] = lo(s[i]);
    tagkey k;
    memcpy(&k.a, buf, 8);
    memcpy(&k.b, buf + 8, 8);
    return k;
}

/* first-letter buckets over TAGS, with each entry's key, built once
 * when the library is loaded (before any call can read them). Unknown
 * names — the majority on real pages: span/img/meta/em/strong/... —
 * compare against only their letter's few entries. */
static signed char tag_bucket[26][12];
static tagkey tag_keys[sizeof(TAGS) / sizeof(TAGS[0])];

__attribute__((constructor)) static void build_tag_buckets(void) {
    for (int t = 0; TAGS[t].name; t++)
        tag_keys[t] = tag_key((const uint8_t*)TAGS[t].name,
                              (long)strlen(TAGS[t].name));
    for (int c = 0; c < 26; c++) {
        int k = 0;
        for (int t = 0; TAGS[t].name; t++) {
            if (TAGS[t].name[0] == 'a' + c) tag_bucket[c][k++] = (signed char)t;
        }
        tag_bucket[c][k] = -1;
    }
}

static int classify(const uint8_t* name, long len) {
    if (len <= 0 || len > 10) return 0;
    uint8_t c0 = lo(name[0]);
    if (c0 < 'a' || c0 > 'z') return 0;
    tagkey k = tag_key(name, len);
    for (const signed char* ip = tag_bucket[c0 - 'a']; *ip >= 0; ip++) {
        const tagkey* e = &tag_keys[(int)*ip];
        if (e->a == k.a && e->b == k.b) return TAGS[(int)*ip].flags;
    }
    return 0;
}

/* ---- _TAG_RE.search replica ---- */

typedef struct {
    long end;          /* m.end() */
    int is_tag;        /* group(2) != None */
    int closing;       /* group(1) == b"/" */
    long name_start;
    long name_len;
    long attr_start;   /* group(3) extent: [attr_start, attr_end) */
    long attr_end;     /* (one trailing '/' excluded, as the regex does) */
} tagmatch;

/* Try to match the full _TAG_RE alternation with h[p] == '<'.
 * Returns 1 on success. */
static int try_match(const uint8_t* h, long n, long p, tagmatch* m) {
    long q = p + 1;
    if (q >= n) return 0;
    uint8_t c = h[q];
    if (c == '!') {
        /* comment: !--.*?--\s*>  (try only if the "!--" prefix is present) */
        if (q + 2 < n && h[q + 1] == '-' && h[q + 2] == '-') {
            for (long i = q + 3; i + 1 < n; i++) {
                if (h[i] == '-' && h[i + 1] == '-') {
                    long j = i + 2;
                    while (j < n && is_ws(h[j])) j++;
                    if (j < n && h[j] == '>') {
                        m->end = j + 1; m->is_tag = 0;
                        return 1;
                    }
                }
            }
            /* unterminated: per spec the rest of the file is commented
             * out (mirrors tokenize.py's (?:--\s*>|\Z) alternative) */
            m->end = n; m->is_tag = 0;
            return 1;
        }
        /* CDATA: !\[CDATA\[.*?\]\]>  */
        if (q + 7 < n && memcmp(h + q + 1, "[CDATA[", 7) == 0) {
            for (long i = q + 8; i + 2 < n; i++) {
                if (h[i] == ']' && h[i + 1] == ']' && h[i + 2] == '>') {
                    m->end = i + 3; m->is_tag = 0;
                    return 1;
                }
            }
        }
        /* [!?][^>]*> fallback */
        for (long i = q + 1; i < n; i++) {
            if (h[i] == '>') { m->end = i + 1; m->is_tag = 0; return 1; }
        }
        return 0;
    }
    if (c == '?') {
        for (long i = q + 1; i < n; i++) {
            if (h[i] == '>') { m->end = i + 1; m->is_tag = 0; return 1; }
        }
        return 0;
    }
    /* tag: (/?)([a-zA-Z][a-zA-Z0-9:_-]*)((?:[^>"']|"[^"]*"|'[^']*')*)/?> */
    int closing = 0;
    long r = q;
    if (c == '/') { closing = 1; r = q + 1; }
    if (r >= n || !is_alpha(h[r])) return 0;
    long ns = r;
    r++;
    while (r < n && is_name_char(h[r])) r++;
    long nl = r - ns;
    /* attrs + final '>' (optional '/' folds into the attr char class) */
    long s = r;
    while (s < n) {
        uint8_t a = h[s];
        if (a == '>') {
            m->end = s + 1; m->is_tag = 1; m->closing = closing;
            m->name_start = ns; m->name_len = nl;
            m->attr_start = r;
            /* group(3) excludes the optional trailing '/' of '/?>' */
            m->attr_end = (s > r && h[s - 1] == '/') ? s - 1 : s;
            return 1;
        }
        if (a == '"' || a == '\'') {
            long e = s + 1;
            while (e < n && h[e] != a) e++;
            if (e >= n) return 0; /* unterminated quote: whole candidate fails */
            s = e + 1;
        } else {
            s++;
        }
    }
    return 0;
}

/* _rawtext_end: byte offset just past the case-insensitive close tag
 * "</name" followed by '>' or (\s [^>]* '>'); len(html) if absent. */
static long rawtext_end(const uint8_t* h, long n, const uint8_t* lname, long nl, long pos) {
    for (long i = pos; i + 1 + nl < n; i++) {
        if (h[i] != '<' || h[i + 1] != '/') continue;
        long k = 0;
        for (; k < nl; k++) {
            if (lo(h[i + 2 + k]) != lname[k]) break;
        }
        if (k != nl) continue;
        long j = i + 2 + nl;
        if (j >= n) continue;
        if (h[j] == '>') return j + 1;
        if (is_ws(h[j])) {
            long e = j + 1;
            while (e < n && h[e] != '>') e++;
            if (e < n) return e + 1;
            /* no '>': this candidate fails, keep searching */
        }
    }
    return n;
}

/* rawkept_close: content_end = offset of the '<' of the matching
 * case-insensitive close tag, resume = just past it; both len(html)
 * when unclosed (mirrors tokenize._rawkept_end). */
static void rawkept_close(const uint8_t* h, long n, const uint8_t* lname,
                          long nl, long pos, long* content_end, long* resume) {
    for (long i = pos; i + 1 + nl < n; i++) {
        if (h[i] != '<' || h[i + 1] != '/') continue;
        long k = 0;
        for (; k < nl; k++) {
            if (lo(h[i + 2 + k]) != lname[k]) break;
        }
        if (k != nl) continue;
        long j = i + 2 + nl;
        if (j >= n) continue;
        if (h[j] == '>') { *content_end = i; *resume = j + 1; return; }
        if (is_ws(h[j])) {
            long e = j + 1;
            while (e < n && h[e] != '>') e++;
            if (e < n) { *content_end = i; *resume = e + 1; return; }
        }
    }
    *content_end = n;
    *resume = n;
}

/* ---- non-prose DROP regions ---------------------------------------
 * drop_end: bit-identical mirror of tokenize._drop_end. Resume offset
 * past a drop region (svg/math/select/button/datalist/audio/video/
 * rt/rp) opened at pos: just past the matching close tag, AT the '<'
 * of a boundary tag (left for the main loop), or n when unterminated.
 * Arms in the Python regex's precedence order: comment (unterminated
 * -> region to EOF), CDATA (exact-case, terminator required), rawtext
 * island open..close (terminators hidden inside it are invisible),
 * own close tag (consumed), block-level tag boundary open-or-close
 * plus, for rt/rp, the ruby omitted-end-tag boundaries
 * (</ruby>, <rt>, <rp> -- not consumed). */
static const char* DROP_RAW_NAMES[] = {
    "iframe", "script", "style", "template", "textarea", NULL};

static long drop_end(const uint8_t* h, long n, const uint8_t* lname,
                     long nl, long pos, int ruby) {
    long i = pos;
    while (i < n) {
        const uint8_t* lt = (const uint8_t*)memchr(h + i, '<', (size_t)(n - i));
        if (!lt) return n;
        i = lt - h;
        /* arm 1: comment */
        if (i + 3 < n && h[i + 1] == '!' && h[i + 2] == '-' && h[i + 3] == '-') {
            long e = -1;
            for (long k = i + 4; k + 1 < n; k++) {
                if (h[k] == '-' && h[k + 1] == '-') {
                    long j = k + 2;
                    while (j < n && is_ws(h[j])) j++;
                    if (j < n && h[j] == '>') { e = j + 1; break; }
                }
            }
            if (e < 0) return n; /* unterminated comment: region to EOF */
            i = e;
            continue;
        }
        /* arm 2: CDATA (no terminator -> arm fails, fall through) */
        if (i + 8 < n && memcmp(h + i + 1, "![CDATA[", 8) == 0) {
            long e = -1;
            for (long k = i + 9; k + 2 < n; k++) {
                if (h[k] == ']' && h[k + 1] == ']' && h[k + 2] == '>') {
                    e = k + 3;
                    break;
                }
            }
            if (e > 0) { i = e; continue; }
        }
        /* arm 3: rawtext island (open..close; incomplete -> arm fails) */
        {
            long adv = -1;
            for (int t = 0; DROP_RAW_NAMES[t]; t++) {
                const char* nm = DROP_RAW_NAMES[t];
                long rl = (long)strlen(nm);
                if (i + 1 + rl >= n) continue;
                long k = 0;
                while (k < rl && lo(h[i + 1 + k]) == (uint8_t)nm[k]) k++;
                if (k != rl) continue;
                long j = i + 1 + rl;
                long oe = -1;
                if (h[j] == '>') oe = j + 1;
                else if (is_ws(h[j])) {
                    const uint8_t* g = (const uint8_t*)memchr(
                        h + j + 1, '>', (size_t)(n - j - 1));
                    if (g) oe = (g - h) + 1;
                }
                if (oe > 0) {
                    for (long q = oe; q + 1 < n; q++) {
                        if (h[q] != '<' || h[q + 1] != '/') continue;
                        if (q + 2 + rl > n) break;
                        long c = 0;
                        while (c < rl && lo(h[q + 2 + c]) == (uint8_t)nm[c]) c++;
                        if (c != rl) continue;
                        long mm = q + 2 + rl;
                        if (mm < n && h[mm] == '>') { adv = mm + 1; break; }
                        if (mm < n && is_ws(h[mm])) {
                            const uint8_t* g2 = (const uint8_t*)memchr(
                                h + mm + 1, '>', (size_t)(n - mm - 1));
                            if (g2) { adv = (g2 - h) + 1; break; }
                        }
                    }
                }
                break; /* at most one rawtext name matches here */
            }
            if (adv > 0) { i = adv; continue; }
        }
        /* arm 4: own close tag (consumed) */
        if (i + 1 < n && h[i + 1] == '/' && i + 2 + nl <= n) {
            long k = 0;
            while (k < nl && lo(h[i + 2 + k]) == lname[k]) k++;
            if (k == nl) {
                long j = i + 2 + nl;
                if (j < n && h[j] == '>') return j + 1;
                if (j < n && is_ws(h[j])) {
                    const uint8_t* g = (const uint8_t*)memchr(
                        h + j + 1, '>', (size_t)(n - j - 1));
                    if (g) return (g - h) + 1;
                }
            }
        }
        /* arm 5: block-tag boundary (+ ruby extras), not consumed */
        {
            long r = i + 1;
            int closing = 0;
            if (r < n && h[r] == '/') { closing = 1; r++; }
            long ns = r;
            while (r < n && (is_alpha(h[r]) || (h[r] >= '0' && h[r] <= '9'))) r++;
            long rl = r - ns;
            if (rl > 0 && r < n && (h[r] == '>' || h[r] == '/' || is_ws(h[r]))) {
                int f2 = classify(h + ns, rl);
                /* boundary = BLOCK minus <title> (svg a11y pattern) */
                if ((f2 & F_BLOCK) && !(f2 & F_TITLE)) return i;
                if (ruby) {
                    if (closing && rl == 4 && lo(h[ns]) == 'r' &&
                        lo(h[ns + 1]) == 'u' && lo(h[ns + 2]) == 'b' &&
                        lo(h[ns + 3]) == 'y')
                        return i;
                    if (!closing && (f2 & F_RUBY)) return i;
                }
            }
        }
        i += 1;
    }
    return n;
}

/* ---- class/id-hint boilerplate regions ----------------------------
 * Bit-identical port of tokenize.class_hint_boiler: a div/section whose
 * class/id value tokens ([a-z0-9]+ runs, lowercased) contain a negative
 * token and no positive token is a boilerplate region until its
 * depth-matched close tag. Lists mirror tokenize.py NEG_CLASS_TOKENS /
 * POS_CLASS_TOKENS exactly (readability.js unlikelyCandidates analog,
 * minus comment-section tokens — reviewed policy keeps comments). */

static const char* NEG_TOKENS[] = {
    "ad", "ads", "advert", "advertisement", "adsense", "agegate", "banner",
    "breadcrumb", "breadcrumbs", "consent", "cookie", "cookies", "foot",
    "footer", "gdpr", "header", "masthead", "menu", "modal", "nav", "navbar",
    "navigation", "newsletter", "overlay", "pager", "pagination", "paywall",
    "popup", "promo", "related", "rss", "share", "sharebar", "sharing",
    "sidebar", "signup", "skyscraper", "social", "sponsor", "sponsored",
    "subscribe", "subscription", "widget", NULL,
};
static const char* POS_TOKENS[] = {
    "article", "body", "column", "content", "entry", "main", "post",
    "story", NULL,
};
#define HINT_TOKEN_MAX 15  /* longest set entry is 13; longer can't match */

static inline int is_name_stop(uint8_t c) {
    return is_ws(c) || c == '=' || c == '/' || c == '"' || c == '\'';
}
static inline int is_alnum_b(uint8_t c) {
    return (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
           (c >= '0' && c <= '9');
}
static int hint_token_in(const uint8_t* t, long len, const char** set) {
    char buf[HINT_TOKEN_MAX + 1];
    if (len > HINT_TOKEN_MAX) return 0;
    for (long i = 0; i < len; i++) buf[i] = (char)lo(t[i]);
    buf[len] = 0;
    for (int i = 0; set[i]; i++) {
        if (strcmp(set[i], buf) == 0) return 1;
    }
    return 0;
}

/* attrs = h[a0:a1). Returns 1 iff boilerplate-marked (neg && !pos). */
static int class_hint_boiler(const uint8_t* h, long a0, long a1) {
    long i = a0;
    int neg = 0;
    while (i < a1) {
        if (is_name_stop(h[i])) { i++; continue; }
        long j = i + 1;
        while (j < a1 && !is_name_stop(h[j])) j++;
        long name_s = i, name_l = j - i;
        i = j;
        while (i < a1 && is_ws(h[i])) i++;
        long val_s = 0, val_l = 0;
        if (i < a1 && h[i] == '=') {
            i++;
            while (i < a1 && is_ws(h[i])) i++;
            if (i < a1 && (h[i] == '"' || h[i] == '\'')) {
                uint8_t q = h[i];
                long k = i + 1;
                while (k < a1 && h[k] != q) k++;
                val_s = i + 1;
                val_l = k - val_s;
                i = (k < a1) ? k + 1 : a1;
            } else {
                long k = i;
                while (k < a1 && !is_ws(h[k])) k++;
                val_s = i;
                val_l = k - i;
                i = k;
            }
        }
        int is_classid =
            (name_l == 5 && lo(h[name_s]) == 'c' && lo(h[name_s + 1]) == 'l' &&
             lo(h[name_s + 2]) == 'a' && lo(h[name_s + 3]) == 's' &&
             lo(h[name_s + 4]) == 's') ||
            (name_l == 2 && lo(h[name_s]) == 'i' && lo(h[name_s + 1]) == 'd');
        if (val_l > 0 && is_classid) {
            long k = val_s, ve = val_s + val_l;
            while (k < ve) {
                if (is_alnum_b(h[k])) {
                    long j2 = k + 1;
                    while (j2 < ve && is_alnum_b(h[j2])) j2++;
                    if (hint_token_in(h + k, j2 - k, POS_TOKENS)) return 0;
                    if (hint_token_in(h + k, j2 - k, NEG_TOKENS)) neg = 1;
                    k = j2;
                } else {
                    k++;
                }
            }
        }
    }
    return neg;
}

#define MAX_HINT_STACK 64
typedef struct { int tagbit; long depth; } hintent;

/* ---- growable block buffer ---- */

typedef struct {
    int64_t* data;
    long count;
    long cap;
} blockbuf;

static int push_block(blockbuf* b, int64_t start, int64_t end, int64_t tlen,
                      int64_t link, int64_t tags, int64_t heading, int64_t boiler) {
    if (b->count == b->cap) {
        long nc = b->cap ? b->cap * 2 : 64;
        int64_t* nd = (int64_t*)realloc(b->data, (size_t)nc * 7 * sizeof(int64_t));
        if (!nd) return 0;
        b->data = nd;
        b->cap = nc;
    }
    int64_t* r = b->data + b->count * 7;
    r[0] = start; r[1] = end; r[2] = tlen; r[3] = link;
    r[4] = tags; r[5] = heading; r[6] = boiler;
    b->count++;
    return 1;
}

int64_t* wx_tokenize(const uint8_t* html, long n, long* out_count) {
    blockbuf buf = {0, 0, 0};
    *out_count = 0;

    int64_t b_start = -1, b_end = -1, b_tlen = 0, b_link = 0, b_tags = 0;
    int b_heading = 0, b_boiler = 0;
    long a_depth = 0, boiler_depth = 0, heading_depth = 0;
    long title_depth = 0, div_depth = 0, sect_depth = 0;
    hintent hint_stack[MAX_HINT_STACK];
    int hint_top = 0;

    long pos = 0;
    while (1) {
        /* search(_TAG_RE, html, pos): next '<' where an alternative matches */
        tagmatch m;
        long p = pos;
        int found = 0;
        while (p < n) {
            const uint8_t* lt = (const uint8_t*)memchr(html + p, '<', (size_t)(n - p));
            if (!lt) break;
            p = lt - html;
            if (try_match(html, n, p, &m)) { found = 1; break; }
            p++;
        }
        if (!found) break;
        long seg_end = p;
        if (seg_end > pos) {
            /* ---- text segment [pos, seg_end) ---- */
            long lead = pos;
            while (lead < seg_end && is_ws(html[lead])) lead++;
            if (lead < seg_end) { /* stripped non-empty */
                long trail = seg_end;
                while (trail > lead && is_ws(html[trail - 1])) trail--;
                int64_t tl = wx_count_nonws(html, lead, trail);
                if (b_start < 0) b_start = lead;
                b_end = trail;
                b_tlen += tl;
                if (a_depth > 0) b_link += tl;
                if (heading_depth > 0) b_heading = 1;
                if (boiler_depth > 0 || title_depth > 0) b_boiler = 1;
            }
        }
        pos = m.end;
        if (!m.is_tag) { /* comment / CDATA / doctype / PI */
            b_tags++;
            continue;
        }
        int flags = classify(html + m.name_start, m.name_len);
        if (flags & F_BLOCK) {
            if (b_start >= 0 && b_tlen > 0) {
                if (!push_block(&buf, b_start, b_end, b_tlen, b_link, b_tags,
                                b_heading, b_boiler)) { free(buf.data); return NULL; }
            }
            b_start = -1; b_end = -1; b_tlen = 0; b_link = 0; b_tags = 0;
            b_heading = 0; b_boiler = 0;
            if (flags & F_BOILER) {
                if (m.closing) { if (boiler_depth > 0) boiler_depth--; }
                else boiler_depth++;
            }
            if (flags & F_HEADING) {
                if (m.closing) { if (heading_depth > 0) heading_depth--; }
                else heading_depth++;
                if (flags & F_TITLE) {
                    if (m.closing) { if (title_depth > 0) title_depth--; }
                    else title_depth++;
                }
            } else if (flags & (F_DIV | F_SECTION)) {
                long* dp = (flags & F_DIV) ? &div_depth : &sect_depth;
                int bit = flags & (F_DIV | F_SECTION);
                if (m.closing) {
                    if (*dp > 0) (*dp)--;
                    if (hint_top > 0 && hint_stack[hint_top - 1].tagbit == bit &&
                        hint_stack[hint_top - 1].depth == *dp) {
                        hint_top--;
                        if (boiler_depth > 0) boiler_depth--;
                    }
                } else {
                    if (m.attr_end > m.attr_start && hint_top < MAX_HINT_STACK &&
                        class_hint_boiler(html, m.attr_start, m.attr_end)) {
                        hint_stack[hint_top].tagbit = bit;
                        hint_stack[hint_top].depth = *dp;
                        hint_top++;
                        boiler_depth++;
                    }
                    (*dp)++;
                }
            } else if (flags & F_HEAD) {
                /* a title region cannot cross the head boundary */
                if (m.closing) title_depth = 0;
            } else if (flags & F_BODY) {
                if (!m.closing) title_depth = 0;
            }
        } else if (flags & F_RAWTEXT) {
            if (!m.closing) {
                uint8_t lname[12];
                for (long k = 0; k < m.name_len; k++) lname[k] = lo(html[m.name_start + k]);
                pos = rawtext_end(html, n, lname, m.name_len, pos);
            }
            if (b_start >= 0 && b_tlen > 0) {
                if (!push_block(&buf, b_start, b_end, b_tlen, b_link, b_tags,
                                b_heading, b_boiler)) { free(buf.data); return NULL; }
            }
            b_start = -1; b_end = -1; b_tlen = 0; b_link = 0; b_tags = 0;
            b_heading = 0; b_boiler = 0;
        } else if (flags & F_RAWKEPT) {
            /* flush (raw-kept element is a hard block boundary) */
            if (b_start >= 0 && b_tlen > 0) {
                if (!push_block(&buf, b_start, b_end, b_tlen, b_link, b_tags,
                                b_heading, b_boiler)) { free(buf.data); return NULL; }
            }
            b_start = -1; b_end = -1; b_tlen = 0; b_link = 0; b_tags = 0;
            b_heading = 0; b_boiler = 0;
            if (!m.closing) {
                long c_end, resume;
                if (flags & F_PLAINTEXT) {
                    c_end = n; resume = n;
                } else {
                    uint8_t lname[12];
                    for (long k = 0; k < m.name_len; k++)
                        lname[k] = lo(html[m.name_start + k]);
                    rawkept_close(html, n, lname, m.name_len, pos,
                                  &c_end, &resume);
                }
                /* emit the raw content as its OWN block (tag_cnt = 0:
                 * markup bytes inside are literal text) */
                long lead = pos;
                while (lead < c_end && is_ws(html[lead])) lead++;
                if (lead < c_end) {
                    long trail = c_end;
                    while (trail > lead && is_ws(html[trail - 1])) trail--;
                    int64_t tl = wx_count_nonws(html, lead, trail);
                    if (!push_block(&buf, lead, trail, tl,
                                    a_depth > 0 ? tl : 0, 0,
                                    heading_depth > 0,
                                    (boiler_depth > 0 || title_depth > 0)))
                        { free(buf.data); return NULL; }
                }
                pos = resume;
            }
        } else if (flags & F_DROP) {
            /* non-prose region: ONE inline tag; content contributes no
             * text (self-closed opens and stray closes are just tags) */
            b_tags++;
            if (!m.closing && html[m.end - 2] != '/') {
                uint8_t lname[12];
                for (long k = 0; k < m.name_len; k++)
                    lname[k] = lo(html[m.name_start + k]);
                pos = drop_end(html, n, lname, m.name_len, pos,
                               (flags & F_RUBY) != 0);
            }
        } else if (flags & F_A) {
            if (m.closing) { if (a_depth > 0) a_depth--; }
            else a_depth++;
            b_tags++;
        } else if (flags & F_NOSCRIPT) {
            if (m.closing) { if (boiler_depth > 0) boiler_depth--; }
            else boiler_depth++;
            b_tags++;
        } else {
            b_tags++;
        }
    }
    /* trailing text after the last tag */
    if (pos < n) {
        long lead = pos;
        while (lead < n && is_ws(html[lead])) lead++;
        if (lead < n) {
            long trail = n;
            while (trail > lead && is_ws(html[trail - 1])) trail--;
            int64_t tl = wx_count_nonws(html, lead, trail);
            if (b_start < 0) b_start = lead;
            b_end = trail;
            b_tlen += tl;
            if (a_depth > 0) b_link += tl;
            if (heading_depth > 0) b_heading = 1;
            if (boiler_depth > 0 || title_depth > 0) b_boiler = 1;
        }
    }
    if (b_start >= 0 && b_tlen > 0) {
        if (!push_block(&buf, b_start, b_end, b_tlen, b_link, b_tags,
                        b_heading, b_boiler)) { free(buf.data); return NULL; }
    }
    *out_count = buf.count;
    if (!buf.data) { /* zero blocks: hand back a 1-slot buffer so free() is uniform */
        buf.data = (int64_t*)malloc(sizeof(int64_t));
    }
    return buf.data;
}

void wx_free(int64_t* p) {
    free(p);
}

/* ====================================================================
 * Fused stage-1 detect: tokenize + per-block score + candidate-run
 * boundaries in ONE call, eliminating the per-document numpy/ctypes
 * round trips (block_scores' elementwise ufuncs and the run walk in
 * webx/detect.py). Float arithmetic is the EXACT elementwise
 * expression of detect.block_scores — same operations in the same
 * order on IEEE doubles, so results are bit-identical. The per-run
 * weighted score is left to the caller: detect_final_doc below, or
 * webx/detect.py _finalize_runs over this raw layout.
 *
 * ABI (single packed buffer, ONE copy out on the Python side):
 *   int64_t* wx_detect(const uint8_t* html, long n,
 *                      double tag_weight, double binary_thresh,
 *                      long min_block_chars, double rescue_thresh,
 *                      long rescue_max_chars, long* out_len);
 *     returns a malloc'd int64 buffer of out_len 8-byte slots:
 *       [0]            k (block count)
 *       [1]            r (run count)
 *       [2 .. 2+4k)    block columns start,end,tlen,heading (k each)
 *       [.. +2r)       runs (first,last) pairs
 *       [.. +k)        per-block scores, double bit patterns
 *     (link/tag/boiler columns are consumed inside; only what the
 *     Python finalization needs crosses the boundary.)
 *     NULL only on malloc failure. Free with wx_free.
 * ==================================================================== */

int64_t* wx_detect(const uint8_t* html, long n,
                   double tag_weight, double binary_thresh,
                   long min_block_chars, double rescue_thresh,
                   long rescue_max_chars, long* out_len) {
    *out_len = 0;
    long k = 0;
    int64_t* blocks = wx_tokenize(html, n, &k);
    if (!blocks) return NULL;
    long len = 2 + 4 * k + 2 * k /* runs upper bound */ + k;
    int64_t* buf = (int64_t*)malloc((size_t)(len ? len : 1) * sizeof(int64_t));
    if (!buf) { free(blocks); return NULL; }
    unsigned char* cand = (unsigned char*)malloc((size_t)(k ? k : 1));
    if (!cand) { free(blocks); free(buf); return NULL; }
    int64_t* col_start = buf + 2;
    int64_t* col_end = col_start + k;
    int64_t* col_tlen = col_end + k;
    int64_t* col_head = col_tlen + k;
    int64_t* runs = col_head + k;
    double* scores = (double*)(runs + 2 * k);
    /* pass 1: columns + scores + BASE candidacy */
    for (long i = 0; i < k; i++) {
        const int64_t* b = blocks + i * 7;
        col_start[i] = b[0];
        col_end[i] = b[1];
        col_tlen[i] = b[2];
        col_head[i] = b[5];
        double tl = (double)b[2];
        double density = tl / (tl + tag_weight * (double)b[4] + 1.0);
        double tl1 = tl >= 1.0 ? tl : 1.0;   /* np.maximum(tl, 1.0) */
        double link_density = (double)b[3] / tl1;
        double score = density * (1.0 - link_density);
        if (b[6]) score = 0.0;               /* boiler -> 0 */
        scores[i] = score;
        cand[i] = (score >= binary_thresh) && (b[2] >= min_block_chars);
    }
    /* pass 2: heading rescue — the FROZEN predicate of
     * webx/detect.py merge_runs_table (i+1 tests BASE candidacy: the
     * forward walk writes index i and reads i+1, so no chaining) */
    if (rescue_max_chars > 0) {
        for (long i = 0; i + 1 < k; i++) {
            const int64_t* b = blocks + i * 7;
            if (!cand[i] && cand[i + 1] && b[3] == 0
                && b[2] >= min_block_chars && b[2] <= rescue_max_chars
                && scores[i] > 0.0 && scores[i] >= rescue_thresh)
                cand[i] = 1;
        }
    }
    /* pass 3: run walk */
    long r = 0;
    int in_run = 0;
    for (long i = 0; i < k; i++) {
        if (cand[i] && !in_run) { runs[r * 2] = i; in_run = 1; }
        if (cand[i]) runs[r * 2 + 1] = i;
        if (!cand[i] && in_run) { r++; in_run = 0; }
    }
    if (in_run) r++;
    free(cand);
    free(blocks);
    /* compact: move scores down next to the actual r runs */
    memmove(runs + 2 * r, scores, (size_t)k * sizeof(double));
    buf[0] = k;
    buf[1] = r;
    *out_len = 2 + 4 * k + 2 * r + k;
    return buf;
}

/* ====================================================================
 * Fully-fused stage-1: wx_detect + per-run score finalization +
 * whitespace expansion + span validation — the whole per-document
 * stage 1. A run's score is the left-to-right fold of webx/detect.py
 * weighted_mean (acc += score * tlen in block order, then
 * / max(sum tlen, 1)); the build pins -ffp-contract=off so gcc cannot
 * fuse the mul+add, and the result is bit-identical to the Python
 * reference for runs of any length. Reached through wx_extract_batch
 * (end of file), which runs it once per document of a batch.
 * ==================================================================== */

/* the extraction parameters (webx.config.ExtractConfig); mirrored by
 * webx/ctokenize.py _Params */
typedef struct {
    double tag_weight, binary_thresh;
    long min_block_chars;
    double box_thresh;
    long min_span_chars, max_candidates;
    double expand_ratio, rescue_thresh;
    long rescue_max_chars;
    double drop_score;
    /* the WX_ROW document front and final row (webx/extract.py
     * _doc_front, _fold): the truncation cap, whether default_charset
     * is "utf-8", and join_sep as UTF-8 bytes */
    long limit_side_len, default_utf8;
    const uint8_t* join_sep;
    long join_len;
    /* the markdown lane's run rule (webx/detect.py merge_runs_table
     * heading_split): no heading rescue, runs split at each
     * heading<->content change, heading runs exempt from min_span_chars */
    long heading_split;
} wxparams;

/* one finalized span; code/text_len are stage 2's (0 until it runs) */
typedef struct {
    int64_t start, end, first, last, head;
    double score;
    int64_t code, text_len;
} wxspan;

typedef struct {
    wxspan* data;
    long count;
    long cap;
} spanbuf;

static int spanbuf_reserve(spanbuf* b, long extra) {
    if (b->count + extra <= b->cap) return 1;
    long nc = b->cap ? b->cap * 2 : 256;
    while (nc < b->count + extra) nc *= 2;
    wxspan* nd = (wxspan*)realloc(b->data, (size_t)nc * sizeof(wxspan));
    if (!nd) return 0;
    b->data = nd;
    b->cap = nc;
    return 1;
}

/* Stage 1 over one document: appends its finalized, expanded, validated
 * spans to *sp. Returns the block count, -1 on malloc failure. */
static long detect_final_doc(const uint8_t* html, long n, const wxparams* p,
                             spanbuf* sp) {
    long len;
    int64_t* buf = wx_detect(html, n, p->tag_weight, p->binary_thresh,
                             p->min_block_chars, p->rescue_thresh,
                             p->heading_split ? 0 : p->rescue_max_chars, &len);
    if (!buf) return -1;
    long k = buf[0];
    long r = buf[1];
    const int64_t* col_start = buf + 2;
    const int64_t* col_end = col_start + k;
    const int64_t* col_tlen = col_end + k;
    const int64_t* col_head = col_tlen + k;
    const int64_t* runs = col_head + k;
    const double* scores = (const double*)(runs + 2 * r);
    long runs_max = p->heading_split ? k : r;  /* split runs: <= 1 per block */
    long cap = runs_max < p->max_candidates ? runs_max : p->max_candidates;
    if (!spanbuf_reserve(sp, cap > 0 ? cap : 0)) { free(buf); return -1; }
    wxspan* f = sp->data + sp->count;
    long m = 0;
    /* finalize (webx/detect.py _finalize_runs); under heading_split each
     * run is cut where the heading flag changes */
    for (long j = 0; j < r && m < p->max_candidates; j++) {
        long i = runs[j * 2], run_last = runs[j * 2 + 1];
        while (i <= run_last && m < p->max_candidates) {
            long last = i;
            while (last < run_last && (!p->heading_split ||
                   (col_head[last + 1] != 0) == (col_head[i] != 0)))
                last++;
            double acc = 0.0;
            long span_tlen = 0;
            int head_all = 1;
            for (long b = i; b <= last; b++) {
                acc += scores[b] * (double)col_tlen[b];
                span_tlen += col_tlen[b];
                head_all = head_all && col_head[b] != 0;
            }
            double ws = (double)span_tlen;
            double sc = acc / (ws > 1.0 ? ws : 1.0);
            if (sc >= p->box_thresh && (span_tlen >= p->min_span_chars ||
                                        (p->heading_split && head_all))) {
                wxspan s = {col_start[i], col_end[last], i, last, head_all, sc, 0, 0};
                f[m++] = s;
            }
            i = last + 1;
        }
    }
    /* expand into surrounding whitespace (webx/detect.py expand_spans):
     * budget per side, never past the previous EXPANDED end or the next
     * span's ORIGINAL start */
    if (p->expand_ratio > 0.0 && m > 0) {
        long prev_end = 0;
        for (long j = 0; j < m; j++) {
            long s0 = f[j].start, e0 = f[j].end;
            long budget = (long)((double)(e0 - s0) * p->expand_ratio);
            long hi = (j + 1 < m) ? f[j + 1].start : n;
            long s = s0, e = e0, b = budget;
            while (s > prev_end && b > 0 && is_ws(html[s - 1])) { s--; b--; }
            b = budget;
            while (e < hi && b > 0 && is_ws(html[e])) { e++; b--; }
            f[j].start = s;
            f[j].end = e;
            prev_end = e;
        }
    }
    /* validate: clip to [0, n), drop empty/inverted
     * (webx/detect.py validate_spans) */
    long w = 0;
    for (long j = 0; j < m; j++) {
        long s = f[j].start, e = f[j].end;
        if (s < 0) s = 0; if (s > n) s = n;
        if (e < 0) e = 0; if (e > n) e = n;
        if (e > s) {
            f[w] = f[j];
            f[w].start = s;
            f[w].end = e;
            w++;
        }
    }
    sp->count += w;
    free(buf);
    return k;
}

/* ====================================================================
 * Aho-Corasick scan: the automaton inner loop of webx/match.py's
 * dictionary-scale multi-pattern matcher. The automaton is built ONCE
 * in Python (webx.match.CompiledAC flattens goto/fail/out into arrays,
 * byte-level over UTF-8 — exact substring equality is byte equality in
 * UTF-8); this is just the O(len(text)) per-document walk that was the
 * CPython floor. Per-node edges are sorted by byte for binary search.
 *
 * ABI:
 *   long wx_ac_find(const uint8_t* text, long n,
 *                   const int32_t* ebase, const int32_t* ecnt,
 *                   const uint8_t* ebyte, const int32_t* enext,
 *                   const int32_t* fail,
 *                   const int32_t* obase, const int32_t* ocnt,
 *                   const int32_t* oids,
 *                   uint8_t* hits);
 *     walks text through the automaton; sets hits[tid] = 1 for every
 *     dictionary term present (hits is caller-zeroed, n_terms wide).
 *     Returns the number of DISTINCT terms newly marked.
 * ==================================================================== */

static inline int32_t ac_step(const int32_t* ebase, const int32_t* ecnt,
                              const uint8_t* ebyte, const int32_t* enext,
                              int32_t node, uint8_t c) {
    int32_t lo_i = ebase[node], hi_i = ebase[node] + ecnt[node] - 1;
    while (lo_i <= hi_i) {
        int32_t mid = (lo_i + hi_i) >> 1;
        uint8_t b = ebyte[mid];
        if (b == c) return enext[mid];
        if (b < c) lo_i = mid + 1; else hi_i = mid - 1;
    }
    return -1;
}

long wx_ac_find(const uint8_t* text, long n,
                const int32_t* ebase, const int32_t* ecnt,
                const uint8_t* ebyte, const int32_t* enext,
                const int32_t* fail,
                const int32_t* obase, const int32_t* ocnt,
                const int32_t* oids,
                uint8_t* hits) {
    long found = 0;
    int32_t node = 0;
    for (long i = 0; i < n; i++) {
        uint8_t c = text[i];
        /* while node and ch not in goto[node]: node = fail[node] */
        int32_t nxt;
        while (node && (nxt = ac_step(ebase, ecnt, ebyte, enext, node, c)) < 0)
            node = fail[node];
        if (node == 0) {
            nxt = ac_step(ebase, ecnt, ebyte, enext, 0, c);
            node = nxt < 0 ? 0 : nxt;
        } else {
            node = nxt;
        }
        int32_t oc = ocnt[node];
        if (oc) {
            const int32_t* ids = oids + obase[node];
            for (int32_t k = 0; k < oc; k++) {
                if (!hits[ids[k]]) { hits[ids[k]] = 1; found++; }
            }
        }
    }
    return found;
}

/* ====================================================================
 * Stage-2 span decode: the four sequential regex passes of
 * webx/recognize.py (_RAWTEXT_RE -> ' ', _COMMENT_RE -> ' ',
 * _BLOCKTAG_RE -> '\n', _ANYTAG_RE -> ''), mirrored byte-for-byte
 * including each regex's quirks (the rawtext/comment passes are NOT
 * quote-aware; the blocktag/anytag passes are). Output is never longer
 * than input (every match of >=1 byte is replaced by <=1 byte).
 * ==================================================================== */

/* quote-aware scan from s to the first unquoted '>'.
 * Returns index just past '>' or -1 (unterminated quote / EOF). */
static long attr_scan(const uint8_t* h, long n, long s) {
    while (s < n) {
        uint8_t a = h[s];
        if (a == '>') return s + 1;
        if (a == '"' || a == '\'') {
            long e = s + 1;
            while (e < n && h[e] != a) e++;
            if (e >= n) return -1;
            s = e + 1;
        } else {
            s++;
        }
    }
    return -1;
}

/* plain scan to first '>' ([^>]*>): index past '>' or -1 */
static long gt_scan(const uint8_t* h, long n, long s) {
    const uint8_t* g = (const uint8_t*)memchr(h + s, '>', (size_t)(n - s));
    return g ? (g - h) + 1 : -1;
}

static const char* RAW_NAMES[] = {
    "script", "style", "textarea", "iframe", "template", NULL};

/* pass 1: <(script|style|textarea|iframe|template)(?:\s[^>]*)?>
 *         .*?</\1(?:\s[^>]*)?>  -> ' ' */
static long pass_rawtext(const uint8_t* in, long n, uint8_t* out) {
    long o = 0, pos = 0;
    while (pos < n) {
        const uint8_t* lt = (const uint8_t*)memchr(in + pos, '<', (size_t)(n - pos));
        if (!lt) break;
        long p = lt - in;
        memcpy(out + o, in + pos, (size_t)(p - pos));
        o += p - pos;
        pos = p;
        long match_end = -1;
        for (int t = 0; RAW_NAMES[t]; t++) {
            const char* nm = RAW_NAMES[t];
            long nl = (long)strlen(nm);
            if (p + 1 + nl > n) continue;
            long k = 0;
            while (k < nl && lo(in[p + 1 + k]) == (uint8_t)nm[k]) k++;
            if (k != nl) continue;
            long j = p + 1 + nl;
            long oe = -1; /* open-tag end */
            if (j < n && in[j] == '>') oe = j + 1;
            else if (j < n && is_ws(in[j])) oe = gt_scan(in, n, j + 1);
            if (oe < 0) continue;
            /* non-greedy close: earliest </name followed by '>' or \s[^>]*> */
            for (long i = oe; i + 1 + nl + 1 < n + 1 && i + 1 < n; i++) {
                if (in[i] != '<' || in[i + 1] != '/') continue;
                if (i + 2 + nl > n) break;
                long c = 0;
                while (c < nl && lo(in[i + 2 + c]) == (uint8_t)nm[c]) c++;
                if (c != nl) continue;
                long m = i + 2 + nl;
                long ce = -1;
                if (m < n && in[m] == '>') ce = m + 1;
                else if (m < n && is_ws(in[m])) ce = gt_scan(in, n, m + 1);
                if (ce < 0) continue;
                match_end = ce;
                break;
            }
            break; /* the names are prefix-free: only one can start here */
        }
        if (match_end > 0) {
            out[o++] = ' ';
            pos = match_end;
        } else {
            out[o++] = '<';
            pos = p + 1;
        }
    }
    memcpy(out + o, in + pos, (size_t)(n - pos));
    o += n - pos;
    return o;
}

/* pass 2: <!--.*?--\s*>  |  <![CDATA[.*?]]>   -> ' ' */
static long pass_comment(const uint8_t* in, long n, uint8_t* out) {
    long o = 0, pos = 0;
    while (pos < n) {
        const uint8_t* lt = (const uint8_t*)memchr(in + pos, '<', (size_t)(n - pos));
        if (!lt) break;
        long p = lt - in;
        memcpy(out + o, in + pos, (size_t)(p - pos));
        o += p - pos;
        pos = p;
        long match_end = -1;
        if (p + 3 < n && in[p + 1] == '!' && in[p + 2] == '-' && in[p + 3] == '-') {
            for (long i = p + 4; i + 1 < n; i++) {
                if (in[i] == '-' && in[i + 1] == '-') {
                    long j = i + 2;
                    while (j < n && is_ws(in[j])) j++;
                    if (j < n && in[j] == '>') { match_end = j + 1; break; }
                }
            }
            /* unterminated comment runs to EOF (the regex's \Z arm) */
            if (match_end < 0) match_end = n;
        } else if (p + 8 < n && memcmp(in + p + 1, "![CDATA[", 8) == 0) {
            for (long i = p + 9; i + 2 < n; i++) {
                if (in[i] == ']' && in[i + 1] == ']' && in[i + 2] == '>') {
                    match_end = i + 3;
                    break;
                }
            }
        }
        if (match_end > 0) {
            out[o++] = ' ';
            pos = match_end;
        } else {
            out[o++] = '<';
            pos = p + 1;
        }
    }
    memcpy(out + o, in + pos, (size_t)(n - pos));
    o += n - pos;
    return o;
}

/* pass 2.5: non-prose DROP regions (recognize._strip_droptext mirror).
 * Runs after the rawtext and comment passes, so terminators hidden
 * inside those islands are already gone. Open = '<' + drop name
 * (maximal alnum run classifying F_DROP) + follow in [\s/>] +
 * quote-aware attrs + '>'. Self-closed open (byte before '>' is '/')
 * keeps the tag bytes (the anytag pass removes them) and opens no
 * region. Otherwise [open_start, terminator) -> '' (inline annotation:
 * no space), where the terminator is the own close tag (consumed), a
 * block-tag boundary or ruby extra (NOT consumed), or end of input. */
static long pass_drop(const uint8_t* in, long n, uint8_t* out) {
    long o = 0, pos = 0;
    while (pos < n) {
        const uint8_t* lt = (const uint8_t*)memchr(in + pos, '<', (size_t)(n - pos));
        if (!lt) break;
        long p = lt - in;
        memcpy(out + o, in + pos, (size_t)(p - pos));
        o += p - pos;
        pos = p;
        /* match a drop-element open tag at p */
        long r = p + 1;
        long ns = r;
        while (r < n && (is_alpha(in[r]) || (in[r] >= '0' && in[r] <= '9'))) r++;
        long nl = r - ns;
        int flags = (nl > 0 && r < n &&
                     (in[r] == '>' || in[r] == '/' || is_ws(in[r])))
                        ? classify(in + ns, nl)
                        : 0;
        long oe = (flags & F_DROP) ? attr_scan(in, n, r) : -1;
        if (oe < 0) {
            out[o++] = '<';
            pos = p + 1;
            continue;
        }
        if (in[oe - 2] == '/') { /* self-closing: tag only, no region */
            memcpy(out + o, in + p, (size_t)(oe - p));
            o += oe - p;
            pos = oe;
            continue;
        }
        uint8_t lname[12];
        for (long k = 0; k < nl; k++) lname[k] = lo(in[ns + k]);
        int ruby = (flags & F_RUBY) != 0;
        /* terminator scan (no island arms: already stripped) */
        long term = n;      /* resume offset */
        long i = oe;
        while (i < n) {
            const uint8_t* lt2 = (const uint8_t*)memchr(in + i, '<', (size_t)(n - i));
            if (!lt2) { i = n; break; }
            i = lt2 - in;
            /* own close (consumed) */
            if (i + 1 < n && in[i + 1] == '/' && i + 2 + nl <= n) {
                long k = 0;
                while (k < nl && lo(in[i + 2 + k]) == lname[k]) k++;
                if (k == nl) {
                    long j = i + 2 + nl;
                    if (j < n && in[j] == '>') { term = j + 1; break; }
                    if (j < n && is_ws(in[j])) {
                        long e = gt_scan(in, n, j + 1);
                        if (e > 0) { term = e; break; }
                    }
                }
            }
            /* block-tag boundary (+ ruby extras), not consumed */
            {
                long r2 = i + 1;
                int closing = 0;
                if (r2 < n && in[r2] == '/') { closing = 1; r2++; }
                long ns2 = r2;
                while (r2 < n &&
                       (is_alpha(in[r2]) || (in[r2] >= '0' && in[r2] <= '9')))
                    r2++;
                long rl2 = r2 - ns2;
                if (rl2 > 0 && r2 < n &&
                    (in[r2] == '>' || in[r2] == '/' || is_ws(in[r2]))) {
                    int f2 = classify(in + ns2, rl2);
                    /* boundary = BLOCK minus <title> (svg a11y) */
                    int hit = (f2 & F_BLOCK) != 0 && (f2 & F_TITLE) == 0;
                    if (!hit && ruby) {
                        if (closing && rl2 == 4 && lo(in[ns2]) == 'r' &&
                            lo(in[ns2 + 1]) == 'u' && lo(in[ns2 + 2]) == 'b' &&
                            lo(in[ns2 + 3]) == 'y')
                            hit = 1;
                        if (!closing && (f2 & F_RUBY)) hit = 1;
                    }
                    if (hit) { term = i; break; }
                }
            }
            i += 1;
        }
        if (i >= n) term = n;
        /* region replaced by NOTHING (inline annotation, no space) */
        pos = term;
    }
    memcpy(out + o, in + pos, (size_t)(n - pos));
    o += n - pos;
    return o;
}

/* pass 3: </?(?:BLOCK)(?:[\s/](?:[^>"']|"[^"]*"|'[^']*')*)?>  -> '\n'
 * Matching a literal name from the set then requiring '>' or [\s/] is
 * equivalent to: maximal [a-zA-Z0-9] run in the set + that follow check
 * (name chars never satisfy the follow). */
static long pass_blocktag(const uint8_t* in, long n, uint8_t* out) {
    long o = 0, pos = 0;
    while (pos < n) {
        const uint8_t* lt = (const uint8_t*)memchr(in + pos, '<', (size_t)(n - pos));
        if (!lt) break;
        long p = lt - in;
        memcpy(out + o, in + pos, (size_t)(p - pos));
        o += p - pos;
        pos = p;
        long match_end = -1;
        long r = p + 1;
        if (r < n && in[r] == '/') r++;
        long ns = r;
        while (r < n && (is_alpha(in[r]) || (in[r] >= '0' && in[r] <= '9'))) r++;
        long nl = r - ns;
        if (nl > 0 && (classify(in + ns, nl) & F_BLOCK)) {
            if (r < n && in[r] == '>') match_end = r + 1;
            else if (r < n && (is_ws(in[r]) || in[r] == '/'))
                match_end = attr_scan(in, n, r + 1);
        }
        if (match_end > 0) {
            out[o++] = '\n';
            pos = match_end;
        } else {
            out[o++] = '<';
            pos = p + 1;
        }
    }
    memcpy(out + o, in + pos, (size_t)(n - pos));
    o += n - pos;
    return o;
}

/* pass 4: <(?:[!?][^>]*|/?[a-zA-Z][a-zA-Z0-9:_-]*(?:[^>"']|"[^"]*"|'[^']*')*)>  -> '' */
static long pass_anytag(const uint8_t* in, long n, uint8_t* out) {
    long o = 0, pos = 0;
    while (pos < n) {
        const uint8_t* lt = (const uint8_t*)memchr(in + pos, '<', (size_t)(n - pos));
        if (!lt) break;
        long p = lt - in;
        memcpy(out + o, in + pos, (size_t)(p - pos));
        o += p - pos;
        pos = p;
        long match_end = -1;
        long q = p + 1;
        if (q < n && (in[q] == '!' || in[q] == '?')) {
            match_end = gt_scan(in, n, q + 1);
        } else {
            long r = q;
            if (r < n && in[r] == '/') r++;
            if (r < n && is_alpha(in[r])) {
                r++;
                while (r < n && is_name_char(in[r])) r++;
                match_end = attr_scan(in, n, r);
            }
        }
        if (match_end > 0) {
            pos = match_end; /* removed: emit nothing */
        } else {
            out[o++] = '<';
            pos = p + 1;
        }
    }
    memcpy(out + o, in + pos, (size_t)(n - pos));
    o += n - pos;
    return o;
}

/* All five passes chained over caller buffers a and b (each >= n
 * bytes): the result lands in a; returns its length. */
static long strip_passes(const uint8_t* in, long n, uint8_t* a, uint8_t* b) {
    long la = pass_rawtext(in, n, a);
    long lb = pass_comment(a, la, b);
    la = pass_drop(b, lb, a);
    lb = pass_blocktag(a, la, b);
    return pass_anytag(b, lb, a);
}

/* Returns a malloc'd buffer (never longer than n; at least 1 byte so
 * free() is uniform); *out_n gets the length. */
uint8_t* wx_strip(const uint8_t* in, long n, long* out_n) {
    *out_n = 0;
    size_t cap = (size_t)(n > 0 ? n : 1);
    uint8_t* a = (uint8_t*)malloc(cap);
    uint8_t* b = (uint8_t*)malloc(cap);
    if (!a || !b) { free(a); free(b); return NULL; }
    *out_n = strip_passes(in, n, a, b);
    free(b);
    return a;
}

/* ====================================================================
 * Fused stage-2 strip + normalize for the pure-ASCII / no-entity case.
 *
 * decode_span's post-strip work is, in order: charset decode, entity
 * substitution, CRLF/CR -> LF, horizontal-whitespace-run collapse
 * ([ \t\f\v\xa0]+ -> " "), then split on \n / str.strip() each line /
 * join non-empty lines. When the STRIPPED bytes are pure ASCII and
 * contain no '&', every one of those steps maps bytes 1:1 through any
 * ASCII-compatible charset (entity pass is identity, NBSP can't
 * occur), so the whole chain commutes with decoding and runs here on
 * bytes in one pass. Otherwise *ok = 0 and the caller gets exactly
 * wx_strip's output to continue the reference Python path on — no
 * duplicated strip work either way.
 *
 * Line-edge trim uses CPython's ASCII str-whitespace set
 * {\t \n \v \f \r \x1c \x1d \x1e \x1f ' '}: after CR-normalize +
 * collapse only ' ' and \x1c-\x1f can remain at line edges, but the
 * full set is trimmed for faithfulness.
 *
 * norm_fast runs on wx_strip's output in place: it returns the new
 * length and sets *ok = 1 when the bytes are the FINAL normalized text
 * (ASCII), else leaves them untouched with *ok = 0. wx_extract_batch
 * (end of file) runs the strip passes and this over each kept span.
 * ==================================================================== */

static inline int is_pystrip_ws(uint8_t c) {
    return (c >= 0x09 && c <= 0x0d) || (c >= 0x1c && c <= 0x1f) || c == ' ';
}

/* first index >= i of a "  " pair, or m when none (word helpers are
 * defined at the top of the file) */
static long wx_find_dblspace(const uint8_t* s, long i, long m) {
    while (i + 9 <= m) { /* pairs starting at i..i+6 live in this word */
        uint64_t sp = wx_eqmask(wx_load64(s + i), ' ');
        if (sp & (sp >> 8)) {
            for (long j = i; j < i + 7; j++)
                if (s[j] == ' ' && s[j + 1] == ' ') return j;
        }
        i += 7; /* step 7: word-boundary pairs land in the next window */
    }
    for (; i + 1 < m; i++)
        if (s[i] == ' ' && s[i + 1] == ' ') return i;
    return m;
}

static long norm_fast(uint8_t* s, long m, int* ok) {
    *ok = 0;
    /* one word-scan: bail on >= 0x80 / '&' (Python path), flag the
     * rare normalization bytes (\r \t \f \v \0) and double spaces */
    int rare = 0, dbl = 0;
    {
        uint64_t prev_sp7 = 0; /* byte 7 of the previous word was ' ' */
        long i = 0;
        for (; i + 8 <= m; i += 8) {
            uint64_t w = wx_load64(s + i);
            if (w & WX_HIGH) return m;
            if (wx_eqmask(w, '&')) return m;
            uint64_t sp = wx_eqmask(w, ' ');
            if ((sp & (sp >> 8)) || (prev_sp7 && (sp & 0x80ULL))) dbl = 1;
            prev_sp7 = sp & 0x8000000000000000ULL;
            if (wx_eqmask(w, '\r') | wx_eqmask(w, '\t') |
                wx_eqmask(w, '\f') | wx_eqmask(w, 0x0b) |
                wx_eqmask(w, 0x00)) rare = 1;
        }
        for (; i < m; i++) {
            uint8_t c = s[i];
            if (c >= 0x80 || c == '&') return m;
            if (c == '\r' || c == '\t' || c == '\f' || c == 0x0b ||
                c == 0x00) rare = 1;
            if (c == ' ' && i > 0 && s[i - 1] == ' ') dbl = 1;
        }
    }
    long w_len = m;
    if (rare) {
        /* full phase 1 (byte loop — rare bytes present):
         * \r\n -> \n, \r -> \n, [ \t\f\v]+ -> " " */
        long w = 0;
        for (long i = 0; i < m; i++) {
            uint8_t c = s[i];
            if (c == '\r') {
                if (i + 1 < m && s[i + 1] == '\n') i++;
                s[w++] = '\n';
            } else if (c == ' ' || c == '\t' || c == '\f' || c == '\v' ||
                       c == 0x00) {
                s[w++] = ' ';
                while (i + 1 < m && (s[i + 1] == ' ' || s[i + 1] == '\t' ||
                                     s[i + 1] == '\f' || s[i + 1] == '\v' ||
                                     s[i + 1] == 0x00)) i++;
            } else {
                s[w++] = c;
            }
        }
        w_len = w;
    } else if (dbl) {
        /* only space runs to collapse: jump between "  " sites,
         * moving the clean chunks wholesale */
        long w = 0, i = 0;
        while (i < m) {
            long p = wx_find_dblspace(s, i, m);
            if (p == m) {
                memmove(s + w, s + i, (size_t)(m - i));
                w += m - i;
                break;
            }
            long chunk = p + 1 - i; /* keep the run's first space */
            memmove(s + w, s + i, (size_t)chunk);
            w += chunk;
            i = p + 1;
            while (i < m && s[i] == ' ') i++;
        }
        w_len = w;
    }
    /* phase 2 (in place): split on \n, trim line edges with CPython's
     * ASCII str-whitespace set, join non-empty lines with \n */
    long o = 0;
    long i = 0;
    int wrote_line = 0;
    while (i < w_len) {
        const uint8_t* nl =
            (const uint8_t*)memchr(s + i, '\n', (size_t)(w_len - i));
        long e = nl ? (long)(nl - s) : w_len;
        long ls = i, le = e;
        while (ls < le && is_pystrip_ws(s[ls])) ls++;
        while (le > ls && is_pystrip_ws(s[le - 1])) le--;
        if (le > ls) {
            if (wrote_line) s[o++] = '\n';
            memmove(s + o, s + ls, (size_t)(le - ls));
            o += le - ls;
            wrote_line = 1;
        }
        i = e + 1;
    }
    *ok = 1;
    return o;
}

void wx_free_bytes(uint8_t* p) {
    free(p);
}

/* ====================================================================
 * The batch entry: stage 1 and the stage-2 fast path over every
 * document of an Arrow batch in ONE call (the batch is the reference's
 * tensor batch, mindocr/data/builder.py:154-161). The documents are the
 * caller's own buffers (a pointer/length array over the Arrow column's
 * data or the bytes objects: no copy). Per document, modes[d] picks the
 * work:
 *   WX_S1     stage 1 only;
 *   WX_S1_S2  stage 1, then strip_passes + norm_fast over each kept
 *             span (score >= drop_score) unless the span holds an
 *             <xmp>/<plaintext> open or the document a <pre>/<listing>
 *             open (those decode on the Python path: code 0);
 *   WX_S2     no stage 1: the whole document is one span through
 *             strip_passes + norm_fast (ctokenize.strip_norm_spans: a
 *             batch of spans, each its own document);
 *   WX_ROW    the raw page: the document front (front_utf8), then
 *             WX_S1_S2, then the final row (finish_row). A page that
 *             fails the front, or has a kept span that is not DONE,
 *             is left to the Python path: done[d] = 0 and no spans.
 * A span's code is 0 (stage 2 not run), 1 (text is the final
 * normalized ASCII text) or 2 (text is strip_passes' output; the
 * caller finishes decoding it).
 *
 * ABI:
 *   uint8_t* wx_extract_batch(const uint8_t* const* docs,
 *       const long* lens, const uint8_t* modes, long n_docs,
 *       const wxparams* p, long* out_bytes);
 *     returns ONE malloc'd buffer of *out_bytes bytes, read in place on
 *     the Python side (D = n_docs, S = span count; int64 slots, then
 *     doubles, then int64 slots, then bytes):
 *       [0] S   [1] stage-2 text bytes
 *       [2 .. 2+D)     n_blocks per document
 *       [.. +D+1)      span offsets: document d owns spans
 *                      [off[d], off[d+1])
 *       [.. +6S)       span columns start, end, first, last, head, code
 *       [.. +S+1)      text offsets, in bytes from the buffer start:
 *                      span j's text is [toff[j], toff[j+1]) (empty
 *                      when code is 0)
 *       [.. +S)        span scores (doubles)
 *       [.. +D)        conf per document (doubles; WX_ROW only)
 *       [.. +D)        done per document: 1 when a WX_ROW document's
 *                      row is final; its spans are then exactly its
 *                      output rows
 *       [.. +D+1)      joined-text offsets, in bytes from the buffer
 *                      start (empty unless done)
 *       then the stage-2 text bytes, then the joined texts.
 *     NULL only on malloc failure. Free with wx_free_bytes.
 * ==================================================================== */

#define WX_S1 0
#define WX_S1_S2 1
#define WX_S2 2
#define WX_ROW 3

/* an open tag of one of names (lowercase): '<' + name, any case, then
 * [\s/>] — the probes of recognize.pre_regions and has_rawkept */
typedef struct { const char* name; long len; } tagname;

static int open_tag_at(const uint8_t* h, long n, long i, const tagname* names) {
    uint8_t c1 = lo(h[i + 1]);
    for (const tagname* t = names; t->name; t++) {
        long nl = t->len, k = 1;
        if (c1 != (uint8_t)t->name[0] || i + 1 + nl >= n) continue;
        while (k < nl && lo(h[i + 1 + k]) == (uint8_t)t->name[k]) k++;
        uint8_t c = h[i + 1 + nl];
        if (k == nl && (is_ws(c) || c == '/' || c == '>')) return 1;
    }
    return 0;
}

/* names holds two entries. Word scan: a word is looked at byte by byte
 * only where a '<' is followed by either name's first letter (any case:
 * b | 0x20 equals a lowercase letter only for that letter and its
 * uppercase) — a memchr per tag costs more on tag-dense pages. */
static int has_open_tag(const uint8_t* h, long n, const tagname* names) {
    uint8_t f0 = (uint8_t)names[0].name[0], f1 = (uint8_t)names[1].name[0];
    long i = 0;
    for (; i + 9 <= n; i += 8) {
        uint64_t nx = wx_load64(h + i + 1) | (WX_ONES * 0x20);
        if (!(wx_eqmask(wx_load64(h + i), '<') &
              (wx_eqmask(nx, f0) | wx_eqmask(nx, f1))))
            continue;
        for (long k = i; k < i + 8; k++)
            if (h[k] == '<' && open_tag_at(h, n, k, names)) return 1;
    }
    for (; i + 1 < n; i++)
        if (h[i] == '<' && open_tag_at(h, n, i, names)) return 1;
    return 0;
}

static const tagname PRE_NAMES[] = {{"pre", 3}, {"listing", 7}, {NULL, 0}};
static const tagname RAWKEPT_NAMES[] = {{"xmp", 3}, {"plaintext", 9}, {NULL, 0}};

typedef struct {
    uint8_t* data;
    long len;
    long cap;
} bytebuf;

static int bytebuf_reserve(bytebuf* b, long extra) {
    if (b->len + extra <= b->cap) return 1;
    long nc = b->cap ? b->cap * 2 : 4096;
    while (nc < b->len + extra) nc *= 2;
    uint8_t* nd = (uint8_t*)realloc(b->data, (size_t)nc);
    if (!nd) return 0;
    b->data = nd;
    b->cap = nc;
    return 1;
}

/* stage-2 fast path over in[0:n): strip straight into text, normalize
 * in place; scratch is the strip passes' second buffer */
static int strip_norm_span(const uint8_t* in, long n, bytebuf* text,
                           bytebuf* scratch, wxspan* s) {
    long need = n > 0 ? n : 1;
    if (!bytebuf_reserve(text, need) || !bytebuf_reserve(scratch, need))
        return 0;
    uint8_t* a = text->data + text->len;
    int ok;
    long m = norm_fast(a, strip_passes(in, n, a, scratch->data), &ok);
    s->code = ok ? 1 : 2;
    s->text_len = m;
    text->len += m;
    return 1;
}

/* the stage-2 fast path over document h[0:n)'s spans [j0, sp->count):
 * each kept span (score >= drop_score) runs strip_norm_span unless it
 * holds an <xmp>/<plaintext> open or the document a <pre>/<listing>
 * open. 0 on malloc failure. */
static int stage2_doc(const uint8_t* h, long n, const wxparams* p,
                      spanbuf* sp, long j0, bytebuf* text, bytebuf* scratch) {
    if (sp->count == j0 || has_open_tag(h, n, PRE_NAMES)) return 1;
    for (long j = j0; j < sp->count; j++) {
        wxspan* s = &sp->data[j];
        long a = s->start, len = s->end - s->start;
        if (s->score < p->drop_score) continue;
        if (has_open_tag(h + a, len, RAWKEPT_NAMES)) continue;
        if (!strip_norm_span(h + a, len, text, scratch, s)) return 0;
    }
    return 1;
}

/* first index of lit (lowercase, k bytes) in h[0:m) compared
 * ASCII-case-insensitively (bytes.lower().find), or -1 */
static long find_lower(const uint8_t* h, long m, const char* lit, long k) {
    for (long i = 0; i + k <= m; i++) {
        const uint8_t* q = (const uint8_t*)memchr(h + i, lit[0], (size_t)(m - i));
        if (!q) return -1;
        i = q - h;
        long j = 1;
        while (j < k && i + j < m && lo(h[i + j]) == (uint8_t)lit[j]) j++;
        if (j == k) return i;
    }
    return -1;
}

/* webx/charset.py sniff_charset's two fast paths over the page head
 * (its first 1,024 bytes): 1 when they resolve the page to utf-8 — no
 * "<meta" and default_charset is "utf-8", or the first "<meta" is the
 * canonical <meta charset="utf-8"> (then '>' or "/>" inside the head)
 * with no "<!--" before it. 0 leaves the page to the full prescan. */
static int sniff_utf8(const uint8_t* h, long n, long default_utf8) {
    static const char FAST[] = "<meta charset=\"utf-8\"";
    long m = n < 1024 ? n : 1024, k = (long)sizeof(FAST) - 1;
    long q = find_lower(h, m, "<meta", 5);
    if (q < 0) return default_utf8 != 0;
    if (find_lower(h, q, "<!--", 4) >= 0 || q + k > m) return 0;
    for (long j = 0; j < k; j++)
        if (lo(h[q + j]) != (uint8_t)FAST[j]) return 0;
    if (q + k < m && h[q + k] == '>') return 1;
    return q + k + 2 <= m && h[q + k] == '/' && h[q + k + 1] == '>';
}

/* CPython's strict UTF-8 decoder's verdict on s[0:n): well-formed per
 * Unicode Table 3-7 — no overlong form, surrogate, code point past
 * U+10FFFF or truncated sequence. */
static int utf8_valid(const uint8_t* s, long n) {
    long i = 0;
    while (i < n) {
        if (i + 8 <= n && !(wx_load64(s + i) & WX_HIGH)) { i += 8; continue; }
        uint8_t c = s[i];
        if (c < 0x80) { i++; continue; }
        long k;
        uint8_t lo2 = 0x80, hi2 = 0xBF;
        if (c >= 0xC2 && c <= 0xDF) k = 1;
        else if (c >= 0xE0 && c <= 0xEF) {
            k = 2;
            if (c == 0xE0) lo2 = 0xA0;
            if (c == 0xED) hi2 = 0x9F;
        } else if (c >= 0xF0 && c <= 0xF4) {
            k = 3;
            if (c == 0xF0) lo2 = 0x90;
            if (c == 0xF4) hi2 = 0x8F;
        } else return 0;
        if (i + k >= n || s[i + 1] < lo2 || s[i + 1] > hi2) return 0;
        for (long j = 2; j <= k; j++)
            if ((s[i + j] & 0xC0) != 0x80) return 0;
        i += k + 1;
    }
    return 1;
}

/* The WX_ROW document front: 1 when webx/extract.py _doc_front keeps
 * the page's bytes as they are and decodes them as utf-8 with status
 * ok — non-empty, no BOM and no NUL in bytes 0-3 (the UTF-16
 * signatures), not longer than limit_side_len, sniffed utf-8 by the
 * fast paths, strictly valid UTF-8. The caller passes a NULL page, or
 * one with a header charset hint, as empty. */
static int front_utf8(const uint8_t* h, long n, const wxparams* p) {
    if (n <= 0 || n > p->limit_side_len) return 0;
    if (n >= 2 && ((h[0] == 0xFF && h[1] == 0xFE) || (h[0] == 0xFE && h[1] == 0xFF)))
        return 0;
    if (n >= 3 && h[0] == 0xEF && h[1] == 0xBB && h[2] == 0xBF) return 0;
    for (long i = 0; i < n && i < 4; i++)
        if (!h[i]) return 0;
    return sniff_utf8(h, n, p->default_utf8) && utf8_valid(h, n);
}

/* The final row of a WX_ROW document whose spans are [j0, sp->count),
 * their stage-2 texts in order from t: keeps the rows webx/extract.py
 * _add_row keeps (score >= drop_score, non-empty text; ASCII text is
 * NFC already), folds conf as webx.detect.weighted_mean does over their
 * scores and text lengths, and appends their texts joined by join_sep
 * to joined. Returns 0 (nothing written) when a kept span is not DONE,
 * -1 on malloc failure. */
static int finish_row(spanbuf* sp, long j0, const uint8_t* t,
                      const wxparams* p, bytebuf* joined, double* conf) {
    long need = 0, rows = 0;
    for (long j = j0; j < sp->count; j++) {
        const wxspan* s = &sp->data[j];
        if (s->score < p->drop_score) continue;
        if (s->code != 1) return 0;
        if (s->text_len) { need += s->text_len; rows++; }
    }
    if (rows > 1) need += (rows - 1) * p->join_len;
    if (!bytebuf_reserve(joined, need)) return -1;
    double acc = 0.0, total = 0.0;
    long w = j0;
    for (long j = j0; j < sp->count; j++) {
        wxspan s = sp->data[j];
        if (s.score < p->drop_score || !s.text_len) continue;
        if (w > j0 && p->join_len) {
            memcpy(joined->data + joined->len, p->join_sep, (size_t)p->join_len);
            joined->len += p->join_len;
        }
        memcpy(joined->data + joined->len, t, (size_t)s.text_len);
        joined->len += s.text_len;
        t += s.text_len;
        acc += s.score * (double)s.text_len;
        total += (double)s.text_len;
        sp->data[w++] = s;
    }
    sp->count = w;
    *conf = acc / (total > 1.0 ? total : 1.0);
    return 1;
}

uint8_t* wx_extract_batch(const uint8_t* const* docs, const long* lens,
                          const uint8_t* modes, long n_docs,
                          const wxparams* p, long* out_bytes) {
    spanbuf sp = {0, 0, 0};
    bytebuf text = {0, 0, 0}, scratch = {0, 0, 0}, joined = {0, 0, 0};
    uint8_t* out = NULL;
    long D = n_docs > 0 ? n_docs : 0;
    /* n_blocks [D], span offsets [D+1], done [D], joined offsets [D+1] */
    int64_t* head = (int64_t*)calloc((size_t)(4 * D + 2), sizeof(int64_t));
    double* conf = (double*)calloc((size_t)(D + 1), sizeof(double));
    *out_bytes = 0;
    if (!head || !conf || !bytebuf_reserve(&text, 1)) goto done;
    int64_t* nblk = head;
    int64_t* soff = head + D;
    int64_t* row = soff + D + 1;
    int64_t* joff = row + D;
    for (long d = 0; d < D; d++) {
        const uint8_t* h = docs[d];
        long n = lens[d];
        soff[d] = sp.count;
        joff[d] = joined.len;
        if (modes[d] == WX_S2) {
            if (!spanbuf_reserve(&sp, 1)) goto done;
            wxspan* s = &sp.data[sp.count++];
            wxspan whole = {0, n, 0, 0, 0, 0.0, 0, 0};
            *s = whole;
            if (!strip_norm_span(h, n, &text, &scratch, s)) goto done;
            continue;
        }
        if (modes[d] == WX_ROW && !front_utf8(h, n, p)) continue;
        long t0 = text.len;
        long k = detect_final_doc(h, n, p, &sp);
        if (k < 0) goto done;
        nblk[d] = k;
        if (modes[d] != WX_S1 &&
            !stage2_doc(h, n, p, &sp, soff[d], &text, &scratch)) goto done;
        if (modes[d] != WX_ROW) continue;
        int r = finish_row(&sp, soff[d], text.data + t0, p, &joined, &conf[d]);
        if (r < 0) goto done;
        row[d] = r;
        if (!r) { /* the Python path redoes this page from its front */
            sp.count = soff[d];
            text.len = t0;
        }
    }
    soff[D] = sp.count;
    joff[D] = joined.len;
    long S = sp.count;
    long n_ints = 2 + 2 * D + 1 + 7 * S + 1;
    long base = (n_ints + S + 3 * D + 1) * (long)sizeof(int64_t);
    /* slide the text up behind the header room in its own buffer (a
     * large block grows by remapping), so it is never held twice */
    out = (uint8_t*)realloc(text.data, (size_t)(base + text.len + joined.len));
    if (!out) goto done;
    text.data = NULL;
    memmove(out + base, out, (size_t)text.len);
    if (joined.len) memcpy(out + base + text.len, joined.data, (size_t)joined.len);
    int64_t* hdr = (int64_t*)out;
    hdr[0] = S;
    hdr[1] = text.len;
    memcpy(hdr + 2, head, (size_t)(2 * D + 1) * sizeof(int64_t));
    int64_t* col = hdr + 2 + 2 * D + 1;
    int64_t* toff = col + 6 * S;
    double* score = (double*)(toff + S + 1);
    double* cf = score + S;
    int64_t* done_out = (int64_t*)(cf + D);
    int64_t* joff_out = done_out + D;
    toff[0] = base;
    for (long j = 0; j < S; j++) {
        const wxspan* s = &sp.data[j];
        col[j] = s->start;
        col[S + j] = s->end;
        col[2 * S + j] = s->first;
        col[3 * S + j] = s->last;
        col[4 * S + j] = s->head;
        col[5 * S + j] = s->code;
        toff[j + 1] = toff[j] + s->text_len;
        score[j] = s->score;
    }
    for (long d = 0; d < D; d++) {
        cf[d] = conf[d];
        done_out[d] = row[d];
    }
    for (long d = 0; d <= D; d++) joff_out[d] = base + text.len + joff[d];
    *out_bytes = base + text.len + joined.len;
done:
    free(head);
    free(conf);
    free(sp.data);
    free(scratch.data);
    free(text.data);
    free(joined.data);
    return out;
}

"""Input sources → the canonical pages table (url, warc_ts, html, …).

The reference's dataset zoo (DetDataset / LMDBDataset / PredictDataset,
SURVEY.md §2.1) collapses to "anything that yields the pages schema":

* an Iceberg/parquet table read with ``spark.read`` (the primary path).
* ``read_binary_files`` — a directory of raw .html files via Spark's
  ``binaryFile`` source (the PredictDataset analog: unlabeled input dir,
  mindocr/data/predict_dataset.py:66-79).
* ``read_warc`` — Common-Crawl WARC archives: each task parses one WARC
  file's response records (url, date, HTTP body) inside ``mapInPandas``.
  One ~1 GB WARC per task is the standard Common-Crawl processing shape;
  the file list parallelizes across executors, records never cross task
  boundaries.

All sources emit the same schema, so the pipeline composes with any of
them unchanged.
"""

from __future__ import annotations

import gzip
import zlib
import re
from datetime import datetime, timezone
from typing import Iterable, Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

WARC_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
    ]
)

_CL_RE = re.compile(rb"^content-length:\s*(\d+)\s*$", re.I | re.M)
_TYPE_RE = re.compile(rb"^warc-type:\s*(\S+)\s*$", re.I | re.M)
_URI_RE = re.compile(rb"^warc-target-uri:\s*(\S+)\s*$", re.I | re.M)
_DATE_RE = re.compile(rb"^warc-date:\s*(\S+)\s*$", re.I | re.M)
_CHUNKED_RE = re.compile(rb"^transfer-encoding:.*\bchunked\b", re.I | re.M)
_CONTENT_ENC_RE = re.compile(rb"^content-encoding:\s*([a-zA-Z0-9_, -]+)\s*$", re.I | re.M)


def _decode_content_encoding(html: bytes, http_hdr: bytes) -> bytes:
    """Reverse the HTTP Content-Encoding on a captured payload (Common
    Crawl stores bodies as transmitted: gzip and deflate are routine).
    gzip → gzip; deflate → zlib, with the raw-deflate fallback real
    servers emit despite the RFC; identity → unchanged. Unknown codings
    (br, zstd — no codec in this environment) and corrupt streams
    return the payload untouched — fail-soft, same policy as _dechunk;
    downstream extraction marks undecodable bytes, never drops rows."""
    m = _CONTENT_ENC_RE.search(http_hdr)
    if m is None:
        return html
    # apply in reverse order for stacked codings (rare but legal)
    codings = [c.strip().lower() for c in m.group(1).decode("ascii", "replace").split(",")]
    for coding in reversed(codings):
        if coding in ("identity", ""):
            continue
        if coding in ("gzip", "x-gzip"):
            try:
                html = gzip.decompress(html)
            except (OSError, EOFError, zlib.error):
                # zlib.error: valid gzip header, corrupt deflate body —
                # routine in truncated captures; must not kill the task.
                return html
        elif coding == "deflate":
            try:
                html = zlib.decompress(html)
            except zlib.error:
                try:  # raw deflate (no zlib wrapper): widespread bug
                    html = zlib.decompress(html, -zlib.MAX_WBITS)
                except zlib.error:
                    return html
        else:  # br / zstd / unknown: no codec here, keep bytes
            return html
    return html


def _parse_warc_date(s: str) -> Optional[datetime]:
    """WARC-Date: 1.0 second precision or 1.1 fractional seconds
    (Common Crawl emits e.g. 2017-10-24T00:14:32.000Z)."""
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return datetime.strptime(s, fmt).replace(tzinfo=timezone.utc)
        except ValueError:
            continue
    return None


def _dechunk(payload: bytes) -> bytes:
    """Decode an HTTP/1.1 chunked transfer-encoded payload (Common Crawl
    stores bodies as captured on the wire, chunk framing included).
    Any framing error returns the payload untouched — fail-soft."""
    out = bytearray()
    pos, n = 0, len(payload)
    while pos < n:
        eol = payload.find(b"\r\n", pos)
        if eol < 0:
            return bytes(payload)
        size_tok = payload[pos:eol].split(b";", 1)[0].strip()  # ignore extensions
        try:
            size = int(size_tok, 16)
        except ValueError:
            return bytes(payload)
        if size == 0:
            break  # trailer (if any) is not page content
        start = eol + 2
        if start + size > n:
            return bytes(payload)
        out += payload[start : start + size]
        pos = start + size
        if payload[pos : pos + 2] == b"\r\n":
            pos += 2
    return bytes(out)


def _warc_walk(raw: bytes):
    """Record walk shared by the readers: yields (warc_header_bytes,
    record_body_bytes) per record via Content-Length framing. Handles
    the gzipped (concatenated-member) layout; malformed trailing bytes
    end the scan (never raise)."""
    if raw[:2] == b"\x1f\x8b":  # gzipped warc (members concatenated)
        # member-by-member, keeping every member that decodes cleanly:
        # a truncated or corrupt member — routine at the tail of real
        # crawl shards — must cost only the records it held, not the
        # whole file (gzip.decompress would drop everything).
        out = bytearray()
        pos = 0
        n_raw = len(raw)
        while pos < n_raw and raw[pos : pos + 2] == b"\x1f\x8b":
            d = zlib.decompressobj(16 + zlib.MAX_WBITS)
            try:
                out += d.decompress(raw[pos:])
            except zlib.error:
                break  # corrupt member: keep prior members' records
            if not d.eof:
                break  # truncated final member: its partial output
                # still ends in an incomplete record the walk skips
            pos = n_raw - len(d.unused_data)
        if not out:
            return
        raw = bytes(out)
    pos, n = 0, len(raw)
    while pos < n:
        if raw[pos : pos + 5] != b"WARC/":
            nxt = raw.find(b"\r\n\r\nWARC/", pos)
            if nxt < 0:
                break
            pos = nxt + 4
            continue
        hdr_end = raw.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            break
        header = raw[pos:hdr_end]
        m = _CL_RE.search(header)
        if m is None:
            break
        length = int(m.group(1))
        body = raw[hdr_end + 4 : hdr_end + 4 + length]
        pos = hdr_end + 4 + length
        # records are separated by two CRLFs
        while raw[pos : pos + 2] == b"\r\n":
            pos += 2
        yield header, body


_HTTP_CHARSET_RE = re.compile(
    rb"^content-type:[^\r\n]*;\s*charset\s*=\s*\"?([a-zA-Z0-9._-]+)", re.I | re.M
)


def _http_payload_meta(body: bytes) -> "Tuple[bytes, str]":
    """HTTP response capture → (page bytes, header-declared charset or
    ''): split the header block (CRLF or the bare-LF blocks some origin
    servers emit), reverse chunked transfer framing, then the
    Content-Encoding. The charset comes from the HTTP Content-Type
    header — per the WHATWG precedence it OUTRANKS any in-document
    ``<meta charset>`` (BOM > HTTP header > meta), and for the common
    header-only server configurations it is the only declaration."""
    html, charset, _hdr = _http_payload_full(body)
    return html, charset


def _http_payload_full(body: bytes) -> "Tuple[bytes, str, bytes]":
    """_http_payload_meta plus the raw HTTP header block itself, for
    readers that surface arbitrary response headers (X-Robots-Tag,
    Last-Modified, ...)."""
    http_end = body.find(b"\r\n\r\n")
    if http_end >= 0:
        http_hdr, html = body[:http_end], body[http_end + 4 :]
    else:
        lf_end = body.find(b"\n\n")
        if lf_end >= 0:
            http_hdr, html = body[:lf_end], body[lf_end + 2 :]
        else:
            http_hdr, html = b"", body
    if _CHUNKED_RE.search(http_hdr):
        html = _dechunk(html)
    charset = ""
    if http_hdr:
        html = _decode_content_encoding(html, http_hdr)
        cm = _HTTP_CHARSET_RE.search(http_hdr)
        if cm is not None:
            charset = cm.group(1).decode("ascii", "replace").lower()
    return html, charset, http_hdr


def _http_payload(body: bytes) -> bytes:
    return _http_payload_meta(body)[0]


def _warc_url_ts(header: bytes):
    u = _URI_RE.search(header)
    if u is None:
        return None, None
    url = u.group(1).decode("utf-8", "replace").strip("<>")
    ts = None
    d = _DATE_RE.search(header)
    if d is not None:
        ts = _parse_warc_date(d.group(1).decode("ascii", "replace"))
    return url, ts


def parse_warc(raw: bytes) -> List[Tuple[str, Optional[datetime], bytes]]:
    """Minimal WARC/1.0 reader: walk records via Content-Length, keep
    ``response`` records, strip the HTTP header block → (url, ts, body).

    Deterministic and allocation-light; malformed trailing bytes end the
    scan (never raise — bad records are skipped, counted by the caller
    via row counts, matching our explicit bad-row policy)."""
    out: List[Tuple[str, Optional[datetime], bytes]] = []
    for header, body in _warc_walk(raw):
        t = _TYPE_RE.search(header)
        if t is None or t.group(1).lower() != b"response":
            continue
        url, ts = _warc_url_ts(header)
        if url is None:
            continue
        out.append((url, ts, _http_payload(body)))
    return out


def parse_warc_meta(
    raw: bytes,
) -> "List[Tuple[str, Optional[datetime], bytes, str]]":
    """parse_warc plus the HTTP-header-declared charset per record
    ('' when the Content-Type carries none) — the hint
    run_extraction's ``charset_col`` consumes."""
    out: List[Tuple[str, Optional[datetime], bytes, str]] = []
    for header, body in _warc_walk(raw):
        t = _TYPE_RE.search(header)
        if t is None or t.group(1).lower() != b"response":
            continue
        url, ts = _warc_url_ts(header)
        if url is None:
            continue
        html, charset = _http_payload_meta(body)
        out.append((url, ts, html, charset))
    return out


_DIGEST_RE = re.compile(rb"^warc-payload-digest:\s*(\S+)\s*$", re.I | re.M)


def parse_warc_records(
    raw: bytes,
) -> List[Tuple[str, str, Optional[datetime], str, bytes]]:
    """Record-level reader including REVISIT records — Common Crawl's
    container-level dedup: an identical recapture is stored as a
    ``revisit`` record carrying only the WARC-Payload-Digest of the
    original response, no body. Yields (kind, url, ts, digest, html)
    where kind ∈ {'response', 'revisit'}; revisit html is b'' and must
    be resolved by digest (webx.sources.resolve_revisits)."""
    out: List[Tuple[str, str, Optional[datetime], str, bytes]] = []
    for header, body in _warc_walk(raw):
        t = _TYPE_RE.search(header)
        kind = t.group(1).lower().decode("ascii", "replace") if t else ""
        if kind not in ("response", "revisit"):
            continue
        url, ts = _warc_url_ts(header)
        if url is None:
            continue
        dm = _DIGEST_RE.search(header)
        digest = dm.group(1).decode("ascii", "replace") if dm else ""
        html = _http_payload(body) if kind == "response" else b""
        out.append((kind, url, ts, digest, html))
    return out


def read_warc(
    spark: SparkSession, path: str, with_charset: bool = False
) -> DataFrame:
    """WARC archive(s) → (url, warc_ts, html[, http_charset]). One file
    per input row of ``binaryFile``; parsing runs distributed inside
    mapInPandas. ``with_charset=True`` adds the HTTP-header-declared
    charset column ('' when absent) for run_extraction's
    ``charset_col`` — the WHATWG-precedence decode hint."""
    files = spark.read.format("binaryFile").load(path).select("content")

    if with_charset:
        schema = T.StructType(
            [*WARC_PAGES_SCHEMA.fields, T.StructField("http_charset", T.StringType())]
        )

        def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = {"url": [], "warc_ts": [], "html": [], "http_charset": []}
                for content in pdf["content"]:
                    for url, ts, html, cs in parse_warc_meta(bytes(content)):
                        rows["url"].append(url)
                        rows["warc_ts"].append(
                            None if ts is None else ts.replace(tzinfo=None)
                        )
                        rows["html"].append(html)
                        rows["http_charset"].append(cs)
                yield pd.DataFrame(rows)

        return files.mapInPandas(fn, schema=schema)

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"url": [], "warc_ts": [], "html": []}
            for content in pdf["content"]:
                for url, ts, html in parse_warc(bytes(content)):
                    rows["url"].append(url)
                    rows["warc_ts"].append(
                        None if ts is None else ts.replace(tzinfo=None)
                    )
                    rows["html"].append(html)
            yield pd.DataFrame(rows)

    return files.mapInPandas(fn, schema=WARC_PAGES_SCHEMA)


def read_warc_records(spark: SparkSession, path: str) -> DataFrame:
    """WARC archive(s) → (kind, url, warc_ts, digest, html) including
    revisit records (html = empty, digest points at the original
    response). Distributed like read_warc."""
    files = spark.read.format("binaryFile").load(path).select("content")

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"kind": [], "url": [], "warc_ts": [], "digest": [], "html": []}
            for content in pdf["content"]:
                for kind, url, ts, digest, html in parse_warc_records(bytes(content)):
                    rows["kind"].append(kind)
                    rows["url"].append(url)
                    rows["warc_ts"].append(
                        None if ts is None else ts.replace(tzinfo=None)
                    )
                    rows["digest"].append(digest)
                    rows["html"].append(html)
            yield pd.DataFrame(rows)

    return files.mapInPandas(
        fn,
        schema="kind string, url string, warc_ts timestamp, digest string, html binary",
    )


def resolve_revisits(records: DataFrame) -> DataFrame:
    """Materialize a revisit-deduplicated capture set back into a full
    page table (url, warc_ts, html): response rows keep their body;
    revisit rows join their payload digest to the distinct
    (digest → body) table of the responses. ONE shuffle join on the
    digest key — each stored body crosses the wire once per revisit,
    which is the algorithmic minimum for materialization; revisits whose
    digest has no stored response are DROPPED (the fail-soft policy —
    nothing to materialize), observable as the row-count delta."""
    responses = records.filter(F.col("kind") == "response")
    revisits = records.filter(F.col("kind") == "revisit")
    bodies = (
        responses.filter(F.col("digest") != "")
        .select("digest", "html")
        .dropDuplicates(["digest"])
    )
    resolved = revisits.drop("html").join(bodies, "digest", "inner")
    cols = ("url", "warc_ts", "html")
    return responses.select(*cols).unionByName(resolved.select(*cols))


def payload_digest(html: bytes) -> str:
    """WARC-Payload-Digest value for a page body (sha1, RFC 4648
    base32 — the format Common Crawl emits)."""
    import base64
    import hashlib

    return "sha1:" + base64.b32encode(hashlib.sha1(html).digest()).decode("ascii")


def write_warc_revisits(records: List[Tuple[str, datetime, bytes]]) -> bytes:
    """Fixture writer for the revisit layout: the FIRST record with a
    given body digest is stored as a full response, every later capture
    of the same body becomes a revisit record (digest only, no HTTP
    payload) — exactly how Common Crawl stores recaptures."""
    chunks: List[bytes] = []
    seen: set = set()
    for url, ts, html in records:
        digest = payload_digest(html)
        date = ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode()
        if digest not in seen:
            seen.add(digest)
            http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
            header = (
                b"WARC/1.0\r\n"
                b"WARC-Type: response\r\n"
                + b"WARC-Target-URI: " + url.encode() + b"\r\n"
                + b"WARC-Date: " + date + b"\r\n"
                + b"WARC-Payload-Digest: " + digest.encode() + b"\r\n"
                + b"Content-Length: " + str(len(http)).encode() + b"\r\n"
            )
            chunks.append(header + b"\r\n" + http + b"\r\n\r\n")
        else:
            header = (
                b"WARC/1.0\r\n"
                b"WARC-Type: revisit\r\n"
                b"WARC-Profile: http://netpreserve.org/warc/1.0/revisit/identical-payload-digest\r\n"
                + b"WARC-Target-URI: " + url.encode() + b"\r\n"
                + b"WARC-Date: " + date + b"\r\n"
                + b"WARC-Payload-Digest: " + digest.encode() + b"\r\n"
                + b"Content-Length: 0\r\n"
            )
            chunks.append(header + b"\r\n" + b"\r\n\r\n")
    return b"".join(chunks)


def write_warc(
    records: List[Tuple[str, datetime, bytes]],
    content_encoding: str = "none",
    charset: str = "",
    headers_fn=None,
) -> bytes:
    """Serialize (url, ts, html) to a WARC/1.0 byte stream (test fixture
    generator — the generate-input-from-expected-output trick applied to
    the container format). ``content_encoding='mixed'`` stores every
    third payload gzip- and every third deflate-encoded with the
    matching HTTP header (as real crawls capture them); the reader must
    reverse both so extraction stays byte-identical. ``charset`` adds a
    ``; charset=…`` parameter to the HTTP Content-Type — the
    header-declared encoding read_warc(with_charset=True) surfaces.
    ``headers_fn(i, url) -> [(name, value), ...]`` appends extra HTTP
    response headers per record (e.g. ``X-Robots-Tag``)."""
    ctype = b"text/html" + (f"; charset={charset}".encode() if charset else b"")
    chunks: List[bytes] = []
    for i, (url, ts, html) in enumerate(records):
        extra = b""
        if headers_fn is not None:
            extra = b"".join(
                name.encode() + b": " + value.encode() + b"\r\n"
                for name, value in headers_fn(i, url)
            )
        if content_encoding == "mixed" and i % 3 == 1:
            http = (
                b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype + b"\r\n"
                + extra
                + b"Content-Encoding: gzip\r\n\r\n" + gzip.compress(html)
            )
        elif content_encoding == "mixed" and i % 3 == 2:
            http = (
                b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype + b"\r\n"
                + extra
                + b"Content-Encoding: deflate\r\n\r\n" + zlib.compress(html)
            )
        else:
            http = (
                b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype + b"\r\n"
                + extra + b"\r\n" + html
            )
        header = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + b"WARC-Target-URI: " + url.encode() + b"\r\n"
            + b"WARC-Date: " + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode() + b"\r\n"
            + b"Content-Length: " + str(len(http)).encode() + b"\r\n"
        )
        chunks.append(header + b"\r\n" + http + b"\r\n\r\n")
    return b"".join(chunks)


def read_binary_files(spark: SparkSession, path: str, glob: str = "*.html") -> DataFrame:
    """Directory of raw page files → (url=file path, warc_ts=mtime, html)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return df.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
    )


# ------------------------------------------------- keyed binary store
# The LMDBDataset analog (mindocr/data/rec_lmdb_dataset.py:92-155): a
# key-addressed binary store laid out as sorted shard files, each with a
# record count in its header (the `num-samples` meta key), records
# addressed by a per-shard index, and a GLOBAL sample order = shards in
# path order × records in index order (get_dataset_idx_orders builds the
# same (lmdb_idx, file_idx) list). `sample_ratio` keeps the first
# round(total × ratio) global indices — identical to the reference's
# truncation of its order list.
#
# Shard format (deterministic, self-describing):
#   b"WXKV1\n" | u32 count | count × (u16 klen | key | u16 llen | label
#   | u32 vlen | value)          (all integers little-endian)

KEYED_MAGIC = b"WXKV1\n"

KEYED_SCHEMA = T.StructType(
    [
        T.StructField("global_idx", T.LongType()),
        T.StructField("key", T.StringType()),
        T.StructField("label", T.StringType()),
        T.StructField("value", T.BinaryType()),
    ]
)


def encode_keyed_shard(records: List[Tuple[str, str, bytes]]) -> bytes:
    """[(key, label, value)] → one shard's bytes (the format above).
    Split out so distributed writers can emit one shard per task."""
    import struct

    chunks = [KEYED_MAGIC, struct.pack("<I", len(records))]
    for key, label, value in records:
        kb, lb = key.encode("utf-8"), label.encode("utf-8")
        chunks.append(struct.pack("<H", len(kb)))
        chunks.append(kb)
        chunks.append(struct.pack("<H", len(lb)))
        chunks.append(lb)
        chunks.append(struct.pack("<I", len(value)))
        chunks.append(value)
    return b"".join(chunks)


def parse_keyed_shard(raw: bytes) -> List[Tuple[str, str, bytes]]:
    """One shard → [(key, label, value)] in stored index order."""
    import struct

    if raw[: len(KEYED_MAGIC)] != KEYED_MAGIC:
        return []
    pos = len(KEYED_MAGIC)
    (count,) = struct.unpack_from("<I", raw, pos)
    pos += 4
    out: List[Tuple[str, str, bytes]] = []
    for _ in range(count):
        (klen,) = struct.unpack_from("<H", raw, pos)
        pos += 2
        key = raw[pos : pos + klen].decode("utf-8")
        pos += klen
        (llen,) = struct.unpack_from("<H", raw, pos)
        pos += 2
        label = raw[pos : pos + llen].decode("utf-8")
        pos += llen
        (vlen,) = struct.unpack_from("<I", raw, pos)
        pos += 4
        out.append((key, label, raw[pos : pos + vlen]))
        pos += vlen
    return out


def read_keyed_store(
    spark: SparkSession, path: str, sample_ratio: float = 1.0
) -> DataFrame:
    """Keyed store → (global_idx, key, label, value), distributed.

    Plan shape: one cheap metadata pass reads each shard's 10-byte
    header to build the global base-offset map (the reference reads each
    env's `num-samples` the same way, rec_lmdb_dataset.py:106-121) —
    shards whose whole index range falls beyond the sample cutoff are
    PRUNED before any data is read. The surviving shard files then parse
    in parallel (one ``binaryFile`` row per shard, records never cross
    task boundaries), emitting global_idx = shard_base + local_idx, with
    the ratio cutoff applied per record."""
    import os
    import struct

    import numpy as np

    shard_paths = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".kvb")
    )
    counts = []
    for p in shard_paths:
        with open(p, "rb") as f:
            head = f.read(len(KEYED_MAGIC) + 4)
        counts.append(
            struct.unpack_from("<I", head, len(KEYED_MAGIC))[0]
            if head[: len(KEYED_MAGIC)] == KEYED_MAGIC
            else 0
        )
    bases = np.concatenate([[0], np.cumsum(counts[:-1])]) if counts else np.array([])
    total = int(sum(counts))
    cutoff = total if sample_ratio >= 1.0 else round(total * sample_ratio)
    # keyed by shard BASENAME (unique within a store by construction):
    # Spark's binaryFile path column is a URL (scheme + percent-encoding),
    # so exact full-path string matching would silently miss — and a miss
    # must be a loud KeyError, never a default base of 0
    base_by_name = {
        os.path.basename(p): int(b) for p, b in zip(shard_paths, bases)
    }
    keep = [
        p
        for p, b in zip(shard_paths, bases)
        if int(b) < cutoff  # shard pruning: whole shard past the cutoff
    ]
    if not keep:
        return spark.createDataFrame([], KEYED_SCHEMA)
    b_bases = spark.sparkContext.broadcast(base_by_name)

    files = (
        spark.read.format("binaryFile")
        .load(keep)
        .select("path", "content")
    )

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bases_map = b_bases.value
        for pdf in batches:
            rows = {"global_idx": [], "key": [], "label": [], "value": []}
            from urllib.parse import unquote, urlparse

            for p, content in zip(pdf["path"], pdf["content"]):
                base = bases_map[os.path.basename(unquote(urlparse(p).path))]
                for i, (key, label, value) in enumerate(
                    parse_keyed_shard(bytes(content))
                ):
                    gidx = base + i
                    if gidx >= cutoff:
                        continue
                    rows["global_idx"].append(gidx)
                    rows["key"].append(key)
                    rows["label"].append(label)
                    rows["value"].append(value)
            yield pd.DataFrame(rows)

    return files.mapInPandas(fn, schema=KEYED_SCHEMA)


# ------------------------------------------------------------------ WET lane
# Common Crawl distributes EXTRACTED TEXT as WET files: WARC/1.0
# containers whose records are WARC-Type: conversion with a UTF-8
# plain-text body (no HTTP envelope). For a main-content extraction
# engine this is the canonical interchange SINK (and a re-ingest
# source): write the flagship output as WET shards, read them back
# distributed.

WET_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("wet_ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ]
)


def write_wet(records: "List[Tuple[str, datetime, str]]") -> bytes:
    """Serialize (url, ts, text) into a WET byte stream (one WARC/1.0
    ``conversion`` record per row, UTF-8 body, Content-Length exact)."""
    chunks: List[bytes] = []
    for url, ts, text in records:
        body = ("" if text is None else text).encode("utf-8")
        header = (
            b"WARC/1.0\r\n"
            b"WARC-Type: conversion\r\n"
            + b"WARC-Target-URI: " + url.encode() + b"\r\n"
            + b"WARC-Date: " + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode() + b"\r\n"
            b"Content-Type: text/plain\r\n"
            + b"Content-Length: " + str(len(body)).encode() + b"\r\n"
        )
        chunks.append(header + b"\r\n" + body + b"\r\n\r\n")
    return b"".join(chunks)


def parse_wet(raw: bytes) -> "List[Tuple[str, Optional[datetime], str]]":
    """Walk a WET stream → (url, ts, text) from ``conversion`` records.
    Fail-soft like parse_warc: malformed tails end the scan, non-
    conversion records (warcinfo headers etc.) are skipped."""
    if raw[:2] == b"\x1f\x8b":
        try:
            raw = gzip.decompress(raw)
        except (OSError, EOFError, zlib.error):
            return []
    out: List[Tuple[str, Optional[datetime], str]] = []
    pos, n = 0, len(raw)
    while pos < n:
        if raw[pos : pos + 5] != b"WARC/":
            nxt = raw.find(b"\r\n\r\nWARC/", pos)
            if nxt < 0:
                break
            pos = nxt + 4
            continue
        hdr_end = raw.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            break
        header = raw[pos:hdr_end]
        m = _CL_RE.search(header)
        if m is None:
            break
        length = int(m.group(1))
        body = raw[hdr_end + 4 : hdr_end + 4 + length]
        pos = hdr_end + 4 + length
        while raw[pos : pos + 2] == b"\r\n":
            pos += 2
        t = _TYPE_RE.search(header)
        if t is None or t.group(1).lower() != b"conversion":
            continue
        u = _URI_RE.search(header)
        if u is None:
            continue
        url = u.group(1).decode("utf-8", "replace").strip("<>")
        ts = None
        d = _DATE_RE.search(header)
        if d is not None:
            ts = _parse_warc_date(d.group(1).decode("ascii", "replace"))
        out.append((url, ts, body.decode("utf-8", "replace")))
    return out


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """WET shard(s) → (url, wet_ts, text); parsing runs distributed, one
    input file per binaryFile row."""
    files = spark.read.format("binaryFile").load(path).select("content")

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"url": [], "wet_ts": [], "text": []}
            for content in pdf["content"]:
                for url, ts, text in parse_wet(bytes(content)):
                    rows["url"].append(url)
                    rows["wet_ts"].append(
                        None if ts is None else ts.replace(tzinfo=None)
                    )
                    rows["text"].append(text)
            yield pd.DataFrame(rows)

    return files.mapInPandas(fn, schema=WET_SCHEMA)


def write_wet_dir(df: DataFrame, out_dir: str) -> "List[Tuple[str, int]]":
    """Distributed WET sink: each task serializes its partition of
    (url, ts, text) into one ``part-NNNNN.wet`` shard under ``out_dir``
    (assumes a task-visible shared filesystem, like every file sink in
    local/DBFS deployments). Only (path, record_count) per shard returns
    to the driver. Rows inside a shard keep partition order; use a prior
    ``repartition``/``sortWithinPartitions`` for a deterministic layout."""
    import os

    from pyspark import TaskContext

    os.makedirs(out_dir, exist_ok=True)
    cols = df.columns

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        recs: List[Tuple[str, datetime, str]] = []
        for pdf in batches:
            for u, t, x in zip(pdf[cols[0]], pdf[cols[1]], pdf[cols[2]]):
                recs.append((u, t.to_pydatetime(), x))
        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.wet")
        if recs:
            with open(path, "wb") as f:
                f.write(write_wet(recs))
            yield pd.DataFrame({"path": [path], "n": [len(recs)]})
        else:
            yield pd.DataFrame({"path": [], "n": []})

    return [
        (r.path, r.n)
        for r in df.mapInPandas(fn, "path string, n long").collect()
    ]


# ---------------------------------------------------------------------------
# WAT — the third Common-Crawl container format (WARC `metadata` records
# whose JSON payload is the per-capture envelope: HTML head metadata +
# the full outlink list). Completing the family next to read_warc /
# read_wet mirrors the reference's one-reader-per-container-layout
# discipline (mindocr/data/det_dataset.py vs rec_lmdb_dataset.py: same
# record model, distinct physical layouts).
# ---------------------------------------------------------------------------

WAT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("wat_ts", T.TimestampType()),
        T.StructField("title", T.StringType()),
        T.StructField("links", T.ArrayType(T.StringType())),
    ]
)


def write_wat(
    records: "List[Tuple[str, datetime, str, List[str]]]",
) -> List[bytes]:
    """Serialize (url, ts, title, hrefs) into WAT records — one WARC/1.0
    ``metadata`` record per capture whose body is the Common-Crawl WAT
    JSON envelope (``Envelope.Payload-Metadata.HTTP-Response-Metadata.
    HTML-Metadata`` carrying ``Head.Title`` and the ordered ``Links``
    list of raw hrefs). Returns one UNCOMPRESSED record per input so the
    sink can apply the CC physical layout (one gzip member per record);
    ``b"".join`` of the list is the plain-``.wat`` stream."""
    import json as _json

    out: List[bytes] = []
    for url, ts, title, hrefs in records:
        env = {
            "Envelope": {
                "Format": "WARC",
                "WARC-Header-Metadata": {
                    "WARC-Target-URI": url,
                    "WARC-Type": "response",
                    "WARC-Date": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                },
                "Payload-Metadata": {
                    "Actual-Content-Type": "application/http; msgtype=response",
                    "HTTP-Response-Metadata": {
                        "HTML-Metadata": {
                            "Head": {"Title": title},
                            "Links": [
                                {"path": "A@/href", "url": h} for h in hrefs
                            ],
                        }
                    },
                },
            }
        }
        body = _json.dumps(env, sort_keys=True, separators=(",", ":")).encode(
            "utf-8"
        )
        header = (
            b"WARC/1.0\r\n"
            b"WARC-Type: metadata\r\n"
            + b"WARC-Target-URI: " + url.encode() + b"\r\n"
            + b"WARC-Date: " + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode() + b"\r\n"
            b"Content-Type: application/json\r\n"
            + b"Content-Length: " + str(len(body)).encode() + b"\r\n"
        )
        out.append(header + b"\r\n" + body + b"\r\n\r\n")
    return out


def parse_wat(
    raw: bytes,
) -> "List[Tuple[str, Optional[datetime], str, List[str]]]":
    """Walk a WAT stream → (url, ts, title, hrefs) from ``metadata``
    records. Shares _warc_walk, so the gzip layout (concatenated
    members) and damage policy (a truncated/corrupt member costs only
    its own records) are identical to parse_warc. Records whose JSON
    does not parse, and non-metadata records (warcinfo), are skipped —
    the same fail-soft bad-row policy as every reader here."""
    import json as _json

    out: "List[Tuple[str, Optional[datetime], str, List[str]]]" = []
    for header, body in _warc_walk(raw):
        t = _TYPE_RE.search(header)
        if t is None or t.group(1).lower() != b"metadata":
            continue
        url, ts = _warc_url_ts(header)
        if url is None:
            continue
        try:
            env = _json.loads(body.decode("utf-8"))["Envelope"]
        except (ValueError, KeyError, UnicodeDecodeError):
            continue
        pm = env.get("Payload-Metadata", {})
        hm = pm.get("HTTP-Response-Metadata", {}).get("HTML-Metadata", {})
        title = hm.get("Head", {}).get("Title", "") or ""
        links = [
            link["url"]
            for link in hm.get("Links", [])
            if isinstance(link, dict) and "url" in link
        ]
        out.append((url, ts, title, links))
    return out


def read_wat(spark: SparkSession, path: str) -> DataFrame:
    """WAT shard(s) → (url, wat_ts, title, links). One file per
    binaryFile row, parsing distributed in mapInPandas — same plan
    shape as read_warc/read_wet."""
    files = spark.read.format("binaryFile").load(path).select("content")

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"url": [], "wat_ts": [], "title": [], "links": []}
            for content in pdf["content"]:
                for url, ts, title, links in parse_wat(bytes(content)):
                    rows["url"].append(url)
                    rows["wat_ts"].append(
                        None if ts is None else ts.replace(tzinfo=None)
                    )
                    rows["title"].append(title)
                    rows["links"].append(links)
            yield pd.DataFrame(rows)

    return files.mapInPandas(fn, schema=WAT_SCHEMA)


def write_wat_dir(df: DataFrame, out_dir: str) -> "List[Tuple[str, int]]":
    """Distributed WAT sink in the Common-Crawl physical layout: each
    task serializes its partition of (url, ts, title, links) into one
    ``part-NNNNN.wat.gz`` shard, ONE GZIP MEMBER PER RECORD (the layout
    that lets a reader seek to any record; also what _warc_walk's
    member-wise damage policy is built for). Driver gets only
    (path, record_count) per shard."""
    import os

    from pyspark import TaskContext

    os.makedirs(out_dir, exist_ok=True)
    cols = df.columns

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        recs: "List[Tuple[str, datetime, str, List[str]]]" = []
        for pdf in batches:
            for u, t, ti, ls in zip(
                pdf[cols[0]], pdf[cols[1]], pdf[cols[2]], pdf[cols[3]]
            ):
                recs.append((u, t.to_pydatetime(), ti, list(ls)))
        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.wat.gz")
        if recs:
            with open(path, "wb") as f:
                for rec in write_wat(recs):
                    f.write(gzip.compress(rec))
            yield pd.DataFrame({"path": [path], "n": [len(recs)]})
        else:
            yield pd.DataFrame({"path": [], "n": []})

    return [
        (r.path, r.n)
        for r in df.mapInPandas(fn, "path string, n long").collect()
    ]


# ---------------------------------------------------------------------------
# HTTP response-header surfacing + request-record politeness auditing —
# the remaining WARC record semantics a crawl pipeline consumes.
# ---------------------------------------------------------------------------


def parse_warc_http(
    raw: bytes, names: "Tuple[str, ...]"
) -> "List[Tuple[str, Optional[datetime], bytes, List[str]]]":
    """parse_warc plus the values of the requested HTTP response
    headers per record ('' when absent), matched case-insensitively —
    the lane for header-level crawl directives: ``X-Robots-Tag``
    (robots exclusion at the HTTP layer, which per Google's public
    robots documentation applies to any file type, not just HTML),
    ``Last-Modified`` (recrawl scheduling input), cache-control, etc.
    """
    pats = [
        re.compile(
            rb"^" + re.escape(n.encode()) + rb":\s*([^\r\n]*)", re.I | re.M
        )
        for n in names
    ]
    out: "List[Tuple[str, Optional[datetime], bytes, List[str]]]" = []
    for header, body in _warc_walk(raw):
        t = _TYPE_RE.search(header)
        if t is None or t.group(1).lower() != b"response":
            continue
        url, ts = _warc_url_ts(header)
        if url is None:
            continue
        html, _cs, http_hdr = _http_payload_full(body)
        vals = []
        for p in pats:
            m = p.search(http_hdr)
            vals.append(
                m.group(1).decode("utf-8", "replace").strip() if m else ""
            )
        out.append((url, ts, html, vals))
    return out


def read_warc_http(
    spark: SparkSession, path: str, names: "Tuple[str, ...]" = ("x-robots-tag",)
) -> DataFrame:
    """WARC archive(s) → (url, warc_ts, html, <one string column per
    requested HTTP header>, lowercased with dashes → underscores; ''
    when the capture lacks the header). Distributed like read_warc."""
    files = spark.read.format("binaryFile").load(path).select("content")
    cols = [n.lower().replace("-", "_") for n in names]
    schema = T.StructType(
        [
            *WARC_PAGES_SCHEMA.fields,
            *(T.StructField(c, T.StringType()) for c in cols),
        ]
    )

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"url": [], "warc_ts": [], "html": []}
            rows.update({c: [] for c in cols})
            for content in pdf["content"]:
                for url, ts, html, vals in parse_warc_http(
                    bytes(content), names
                ):
                    rows["url"].append(url)
                    rows["warc_ts"].append(
                        None if ts is None else ts.replace(tzinfo=None)
                    )
                    rows["html"].append(html)
                    for c, v in zip(cols, vals):
                        rows[c].append(v)
            yield pd.DataFrame(rows)

    return files.mapInPandas(fn, schema=schema)


def write_warc_requests(
    records: "List[Tuple[str, datetime]]",
) -> bytes:
    """Serialize (url, ts) into WARC ``request`` records (the capture
    side CC stores alongside each response: a GET line + Host header,
    Content-Length exact) — fixture generator for the politeness
    audit."""
    chunks: List[bytes] = []
    for url, ts in records:
        m = re.match(r"https?://([^/]+)(/.*)?$", url)
        host = m.group(1) if m else url
        pth = (m.group(2) or "/") if m else "/"
        body = (
            f"GET {pth} HTTP/1.1\r\nHost: {host}\r\n\r\n"
        ).encode()
        header = (
            b"WARC/1.0\r\n"
            b"WARC-Type: request\r\n"
            + b"WARC-Target-URI: " + url.encode() + b"\r\n"
            + b"WARC-Date: " + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode() + b"\r\n"
            + b"Content-Length: " + str(len(body)).encode() + b"\r\n"
        )
        chunks.append(header + b"\r\n" + body + b"\r\n\r\n")
    return b"".join(chunks)


def parse_warc_requests(
    raw: bytes,
) -> "List[Tuple[str, Optional[datetime]]]":
    """Walk a WARC stream → (url, ts) of every ``request`` record —
    the fetch log. Same _warc_walk damage policy as every reader."""
    out: "List[Tuple[str, Optional[datetime]]]" = []
    for header, _body in _warc_walk(raw):
        t = _TYPE_RE.search(header)
        if t is None or t.group(1).lower() != b"request":
            continue
        url, ts = _warc_url_ts(header)
        if url is None:
            continue
        out.append((url, ts))
    return out


def read_warc_requests(spark: SparkSession, path: str) -> DataFrame:
    """WARC archive(s) → (url, req_ts) from request records,
    distributed — the input to politeness auditing (per-host
    inter-request gaps)."""
    files = spark.read.format("binaryFile").load(path).select("content")

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"url": [], "req_ts": []}
            for content in pdf["content"]:
                for url, ts in parse_warc_requests(bytes(content)):
                    rows["url"].append(url)
                    rows["req_ts"].append(
                        None if ts is None else ts.replace(tzinfo=None)
                    )
            yield pd.DataFrame(rows)

    return files.mapInPandas(fn, schema="url string, req_ts timestamp")


def sniff_mime(html_col: str = "html") -> "F.Column":
    """Payload MIME routing by magic bytes — the WHATWG MIME-sniffing
    table's byte-pattern core (public spec, mimesniff.spec.whatwg.org),
    for the corpus reality that HTTP Content-Type lies: route each
    capture to the html / pdf / image / archive lane by what the bytes
    ARE. Pure codegen (binary substring compares against hex literals +
    one case-insensitive tag regex over the lossily-decoded head), so it
    fuses into the scan with zero Python and zero shuffle.

    Order matters and follows the spec: exact binary magics first
    (a PDF that starts ``%PDF-`` is a PDF even if it contains ``<html``
    later), then the BOM/whitespace-tolerant HTML tag check, then the
    printable-ASCII → text/plain vs application/octet-stream fallback
    over the first 64 bytes."""
    b = F.col(html_col)

    def pre(k: int) -> "F.Column":
        return F.expr(f"substring({html_col}, 1, {k})")

    def is_magic(magic: bytes) -> "F.Column":
        return pre(len(magic)) == F.lit(magic)

    txt = F.make_valid_utf8(pre(256).cast("string"))
    html_tag = txt.rlike(
        r"(?is)^﻿?[ \t\r\n]*<(!doctype html|html|head|script|iframe"
        r"|h1|div|font|table|a|style|title|b|body|br|p|!--)[ >\t\r\n/]"
    )
    ascii_text = F.make_valid_utf8(pre(64).cast("string")).rlike(
        r"^[\x20-\x7e\t\r\n\f]*$"
    )
    return (
        F.when(is_magic(b"%PDF-"), F.lit("application/pdf"))
        .when(is_magic(b"%!PS-"), F.lit("application/postscript"))
        .when(is_magic(b"\x89PNG\r\n\x1a\n"), F.lit("image/png"))
        .when(
            is_magic(b"GIF87a") | is_magic(b"GIF89a"), F.lit("image/gif")
        )
        .when(is_magic(b"\xff\xd8\xff"), F.lit("image/jpeg"))
        .when(is_magic(b"BM"), F.lit("image/bmp"))
        .when(
            (pre(4) == F.lit(b"RIFF"))
            & (F.expr(f"substring({html_col}, 9, 4)") == F.lit(b"WEBP")),
            F.lit("image/webp"),
        )
        .when(is_magic(b"PK\x03\x04"), F.lit("application/zip"))
        .when(is_magic(b"\x1f\x8b"), F.lit("application/gzip"))
        .when(is_magic(b"OggS"), F.lit("application/ogg"))
        .when(
            F.expr(f"substring({html_col}, 5, 4)") == F.lit(b"ftyp"),
            F.lit("video/mp4"),
        )
        .when(html_tag, F.lit("text/html"))
        .when(ascii_text, F.lit("text/plain"))
        .otherwise(F.lit("application/octet-stream"))
    )

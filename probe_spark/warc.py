"""WARC 1.0 source/sink -- the container Common-Crawl-style corpora
actually arrive in (ISO 28500 / WARC-1.0, a public spec; format summary
below).  The engine's ingest tables are (url, warc_ts, html, text, lang);
this module turns .warc / .warc.gz (and .wet.gz) files into that shape
and back:

    read_warc(spark, paths)  -> DataFrame(url, warc_ts, html, text, lang)
    read_wet(spark, paths)   -> same shape, html NULL (WET = text-only)
    write_warc(df, out_dir)  -> one .warc.gz per partition, rows written

Record grammar (spec §4): a version line ``WARC/1.0\r\n``, header lines
``Name: value\r\n``, a blank ``\r\n``, exactly Content-Length bytes of
content block, then ``\r\n\r\n``.  Response records wrap a full HTTP
response (status line + headers + body); the page bytes are the body
after the FIRST blank line of the HTTP block, de-chunked when the
capture recorded ``Transfer-Encoding: chunked`` and decompressed when it
recorded ``Content-Encoding: gzip/deflate`` (real Common-Crawl captures
preserve raw response bytes, so both occur in-contract).  Common Crawl
convention: every record is its own gzip member; the streaming reader
decompresses the member concatenation incrementally.  Language rides the
public ``WARC-Identified-Content-Language`` header (Common Crawl carries
it since 2018); absent, lang is ``und``.

Scale shape: parallelism is per WARC FILE (the cc-pyspark pattern) --
each task STREAMS its file (incremental gzip decode, record-at-a-time
parse, rows emitted in bounded Arrow batches), so task memory is bounded
by one record plus one batch, never the decompressed file, and a 100 TB
crawl is as parallel as its file count (~64k files/crawl).  The parser
is a pure function over bytes/streams, unit-tested against hand-built
golden records.
"""

from __future__ import annotations

import datetime as dt
import gzip
import io
import uuid
import zlib
from typing import BinaryIO, Iterator

from pyspark.sql import DataFrame, SparkSession

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

_CRLF = b"\r\n"
_BATCH_ROWS = 512  # rows per emitted Arrow batch in the readers


def _header_value(s: str, what: str) -> str:
    """Reject CR/LF in header values: a crawled URL is attacker-supplied
    input, and an embedded newline would forge extra WARC headers or
    break record framing on re-ingest (header injection)."""
    if "\r" in s or "\n" in s:
        raise ValueError(f"WARC {what} contains CR/LF: {s[:80]!r}")
    return s


def build_record(
    url: str,
    ts: "dt.datetime | str",
    html: bytes,
    lang: str = "und",
) -> bytes:
    """One WARC/1.0 response record wrapping a minimal HTTP/1.1 200
    response around ``html``.  ``ts`` may be a datetime (a tz-aware value
    is converted to UTC; a naive one is taken as UTC wall time) or a
    preformatted ``YYYY-MM-DDTHH:MM:SSZ`` string.  Deterministic except
    WARC-Record-ID (a fresh UUID, as the spec requires per record)."""
    if html is None:
        raise ValueError(f"build_record: html is NULL for url={url!r}")
    if isinstance(ts, str):
        date = ts
    else:
        # a tz-aware non-UTC datetime formatted as wall time would stamp
        # a silently wrong instant with a 'Z' suffix -- convert first
        if ts.tzinfo is not None:
            ts = ts.astimezone(dt.timezone.utc)
        date = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        + b"Content-Length: "
        + str(len(html)).encode()
        + _CRLF
        + _CRLF
        + html
    )
    headers = [
        b"WARC/1.0",
        b"WARC-Type: response",
        b"WARC-Record-ID: <urn:uuid:" + str(uuid.uuid4()).encode() + b">",
        b"WARC-Target-URI: " + _header_value(url, "url").encode(),
        b"WARC-Date: " + _header_value(date, "date").encode(),
        b"WARC-Identified-Content-Language: "
        + _header_value(lang or "und", "lang").encode(),
        b"Content-Type: application/http; msgtype=response",
        b"Content-Length: " + str(len(http)).encode(),
    ]
    return _CRLF.join(headers) + _CRLF + _CRLF + http + _CRLF + _CRLF


def _parse_headers(block: bytes, where: str) -> dict:
    lines = block.split(_CRLF)
    if not lines[0].startswith(b"WARC/"):
        raise ValueError(
            f"WARC: bad version line {lines[0][:40]!r} at {where}"
        )
    headers: dict[str, str] = {}
    for ln in lines[1:]:
        k, _sep, v = ln.partition(b":")
        headers[k.strip().lower().decode("latin-1")] = v.strip().decode(
            "utf-8", "replace"
        )
    return headers


def parse_records(buf: bytes) -> Iterator[tuple[dict, bytes]]:
    """(headers, content) for each record in an uncompressed WARC buffer.
    Header names are case-folded.  Raises ValueError on a structurally
    truncated record (mid-record EOF) -- a short-read upstream should be
    surfaced, not silently dropped."""
    pos = 0
    n = len(buf)
    while pos < n:
        # tolerate extra blank separators between records
        while pos < n and buf[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            return
        head_end = buf.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            raise ValueError("WARC: truncated header block")
        headers = _parse_headers(buf[pos:head_end], f"offset {pos}")
        clen = int(headers.get("content-length", "0"))
        body_start = head_end + 4
        if body_start + clen > n:
            raise ValueError("WARC: truncated content block")
        yield headers, buf[body_start : body_start + clen]
        pos = body_start + clen


def stream_records(fobj: BinaryIO) -> Iterator[tuple[dict, bytes]]:
    """Record-at-a-time parse over a (decompressed) binary stream: memory
    is one record, never the file.  Same contract as parse_records."""
    while True:
        # skip inter-record blank lines to the next version line
        line = fobj.readline()
        while line in (_CRLF, b"\n"):
            line = fobj.readline()
        if not line:
            return
        head = [line.rstrip(b"\r\n")]
        while True:
            ln = fobj.readline()
            if not ln:
                raise ValueError("WARC: truncated header block")
            if ln in (_CRLF, b"\n"):
                break
            head.append(ln.rstrip(b"\r\n"))
        headers = _parse_headers(_CRLF.join(head), "stream")
        clen = int(headers.get("content-length", "0"))
        content = fobj.read(clen)
        if len(content) != clen:
            raise ValueError("WARC: truncated content block")
        yield headers, content


def _dechunk(body: bytes) -> bytes:
    """Decode HTTP/1.1 chunked transfer framing (size-line CRLF data CRLF
    ... 0 CRLF CRLF).  Tolerant of a truncated tail: returns what was
    decodable (matching warcio's permissive behavior on crawl data)."""
    out = []
    pos = 0
    n = len(body)
    while pos < n:
        eol = body.find(_CRLF, pos)
        if eol < 0:
            break
        try:
            size = int(body[pos:eol].split(b";")[0], 16)
        except ValueError:
            break
        if size == 0:
            break
        start = eol + 2
        out.append(body[start : start + size])
        pos = start + size + 2  # skip chunk + trailing CRLF
    return b"".join(out)


def _http_body(payload: bytes) -> bytes:
    """Page bytes of an application/http response payload: everything
    after the FIRST blank line, de-chunked / content-decoded per the
    captured HTTP headers (CC records preserve raw response bytes).  A
    headerless payload is returned whole."""
    i = payload.find(_CRLF + _CRLF)
    if i < 0:
        return payload
    head = payload[:i].lower()
    body = payload[i + 4 :]
    if b"transfer-encoding:" in head and b"chunked" in head:
        body = _dechunk(body)
    if b"content-encoding:" in head:
        if b"gzip" in head:
            try:
                body = gzip.decompress(body)
            except OSError:
                pass  # mislabeled capture: keep raw bytes
        elif b"deflate" in head:
            try:
                body = zlib.decompress(body)
            except zlib.error:
                try:
                    body = zlib.decompress(body, -zlib.MAX_WBITS)
                except zlib.error:
                    pass
    return body


def _record_fields(headers: dict) -> tuple[str, dt.datetime, str]:
    """(url, warc_ts, lang) shared by response and conversion records."""
    url = headers.get("warc-target-uri", "")
    raw_ts = headers.get("warc-date", "1970-01-01T00:00:00Z")
    ts = dt.datetime.strptime(raw_ts[:19], "%Y-%m-%dT%H:%M:%S").replace(
        tzinfo=dt.timezone.utc
    )
    lang = (
        headers.get("warc-identified-content-language", "und")
        .split(",")[0]
        .strip()
        or "und"
    )
    return url, ts, lang


def response_rows(
    buf: bytes,
) -> Iterator[tuple[str, dt.datetime, bytes, str]]:
    """(url, warc_ts, html, lang) for each WARC-Type: response record;
    request/metadata/warcinfo records are skipped (spec-valid files
    interleave them)."""
    for headers, content in parse_records(buf):
        if headers.get("warc-type") != "response":
            continue
        url, ts, lang = _record_fields(headers)
        yield url, ts, _http_body(content), lang


def _open_stream(path: str) -> BinaryIO:
    """Binary stream over a possibly-gzipped file: incremental member
    decompression (GzipFile reads concatenated members), no whole-file
    buffering."""
    f = open(path, "rb")
    magic = f.read(2)
    f.seek(0)
    if path.endswith(".gz") or magic == b"\x1f\x8b":
        return gzip.GzipFile(fileobj=f)  # type: ignore[return-value]
    return f


def _read_file(path: str) -> bytes:
    """Whole-file convenience used by tests and tiny inputs; the Spark
    readers stream instead."""
    with _open_stream(path) as f:
        return f.read()


def _pages_reader(spark: SparkSession, paths: list[str], row_gen) -> DataFrame:
    """Shared reader shape: one task per file, record-at-a-time streaming
    parse, rows emitted in bounded batches.  ``row_gen(fobj)`` yields
    dict rows matching PAGES_SCHEMA."""
    import pandas as pd

    cols = ["url", "warc_ts", "html", "text", "lang"]

    def gen(batches):
        for pdf in batches:
            for path in pdf["path"]:
                rows: list[dict] = []
                with _open_stream(path) as f:
                    for row in row_gen(f):
                        rows.append(row)
                        if len(rows) >= _BATCH_ROWS:
                            yield pd.DataFrame(rows, columns=cols)
                            rows = []
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    pdf = spark.createDataFrame([(p,) for p in paths], "path string")
    return pdf.repartition(max(1, len(paths))).mapInPandas(
        gen, PAGES_SCHEMA
    )


def read_warc(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Parse WARC files into the engine's pages shape.  One task per
    file, streaming (see module docstring).  text = the deterministic
    extract_text(html) invariant (same UDF the indexer applies)."""
    from probe_spark.extract import extract_text

    def rows(f):
        for headers, content in stream_records(f):
            if headers.get("warc-type") != "response":
                continue
            url, ts, lang = _record_fields(headers)
            html = _http_body(content)
            yield {
                "url": url,
                "warc_ts": ts,
                "html": html,
                "text": extract_text(html),
                "lang": lang,
            }

    return _pages_reader(spark, paths, rows)


def read_wet(spark: SparkSession, paths: list[str]) -> DataFrame:
    """WET (extracted-text) files -> the pages shape with html = NULL and
    text straight from the conversion records.  Same streaming shape as
    read_warc; the right source when the pipeline starts from Common
    Crawl's own text extraction instead of raw html."""

    def rows(f):
        for headers, content in stream_records(f):
            if headers.get("warc-type") != "conversion":
                continue
            url, ts, lang = _record_fields(headers)
            yield {
                "url": url,
                "warc_ts": ts,
                "html": None,
                "text": content.decode("utf-8", "replace"),
                "lang": lang,
            }

    return _pages_reader(spark, paths, rows)


def write_warc(df: DataFrame, out_dir: str, cdx: bool = False) -> int:
    """Export (url, warc_ts, html[, lang]) rows as one .warc.gz per
    partition under ``out_dir`` (each record its own gzip member, the CC
    layout).  ``out_dir`` must be a path every executor can write
    (shared filesystem); file names are partition-unique so concurrent
    tasks never collide.  NULL html raises (exporting a text-only row as
    an http response would fabricate bytes -- filter or fill first);
    NULL lang falls back to 'und'.  WARC-Date is rendered in true UTC
    regardless of spark.sql.session.timeZone (the timestamp is formatted
    to a string in the PLAN, where Spark still knows the zone).
    ``cdx=True`` additionally writes a ``<part>.cdx`` sidecar per file
    with TRUE byte offsets/lengths of each gzip member -- exactly how
    Common Crawl's index is produced -- enabling fetch_captures to read
    selected records by ranged access instead of scanning the crawl.
    Returns rows written.  Plain side-effect files (no Spark commit
    protocol): rerun into a fresh directory rather than resuming a
    half-failed export."""
    import base64
    import hashlib
    import json as _json
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    src = df.withColumn(
        "_warc_date",
        F.concat(
            F.date_format(
                F.to_utc_timestamp(F.col("warc_ts"), tz),
                "yyyy-MM-dd'T'HH:mm:ss",
            ),
            F.lit("Z"),
        ),
    )
    cols = src.columns

    def dump(batches):
        n = 0
        out = None
        idx = None
        base = None
        for pdf in batches:
            if out is None:
                base = f"part-{uuid.uuid4().hex}.warc.gz"
                out = open(os.path.join(out_dir, base), "wb")
                if cdx:
                    # locale/platform-independent sidecar bytes: crawled
                    # urls may be non-ASCII and the index is read back
                    # byte-oriented (spark.read.text)
                    idx = open(
                        os.path.join(out_dir, base + ".cdx"),
                        "w",
                        encoding="utf-8",
                        newline="\n",
                    )
            for r in pdf.itertuples(index=False):
                d = dict(zip(cols, r))
                html = d["html"]
                rec = build_record(
                    d["url"],
                    d["_warc_date"],
                    None if html is None else bytes(html),
                    d.get("lang") or "und",
                )
                # one gzip member per record (CC convention); mtime=0
                # keeps the member bytes deterministic
                member = gzip.compress(rec, mtime=0)
                if idx is not None:
                    ts14 = (
                        d["_warc_date"]
                        .replace("-", "")
                        .replace(":", "")
                        .replace("T", "")
                        .rstrip("Z")
                    )
                    fields = {
                        "url": d["url"],
                        # CDX convention (Common Crawl / warcio): base32
                        # SHA-1 of the payload, no prefix -- so digest-
                        # based dedup interoperates with genuine indexes
                        "digest": base64.b32encode(
                            hashlib.sha1(bytes(html)).digest()
                        ).decode("ascii"),
                        "mime": "text/html",
                        "status": "200",
                        "filename": base,
                        "offset": str(out.tell()),
                        "length": str(len(member)),
                    }
                    idx.write(
                        f"{surt(d['url'])} {ts14} "
                        + _json.dumps(fields)
                        + "\n"
                    )
                out.write(member)
                n += 1
        if out is not None:
            out.close()
        if idx is not None:
            idx.close()
        yield pd.DataFrame({"n": [n]})

    parts = src.mapInPandas(dump, "n long").collect()
    return int(sum(r["n"] for r in parts))


def fetch_captures(
    spark: SparkSession, captures: DataFrame, warc_dir: str
) -> DataFrame:
    """Index-driven SELECTIVE fetch -- the Common-Crawl access pattern:
    ``captures`` is a (filename, offset, length, ...) selection (rows of
    read_cdx output, typically after digest dedup / latest-snapshot /
    status filtering), and only those gzip members are read from
    ``warc_dir`` by seek+read of exactly ``length`` bytes each.  A plan
    that selects 0.1% of captures reads ~0.1% of the crawl bytes instead
    of scanning it.  Partitioned by filename so each task opens its file
    once and walks its offsets in ascending order (sequential-friendly
    on both disks and object stores' ranged GETs)."""
    import os

    import pandas as pd

    from probe_spark.extract import extract_text

    from pyspark.sql import functions as F

    # foreign CDX lines may lack fetch coordinates; a null here would
    # crash a task mid-fetch, so filter them out up front
    sel = (
        captures.select("filename", "offset", "length")
        .filter(
            F.col("filename").isNotNull()
            & F.col("offset").isNotNull()
            & F.col("length").isNotNull()
        )
        .repartition("filename")
    )

    cols = ["url", "warc_ts", "html", "text", "lang"]

    def gen(batches):
        # accumulate COORDINATES across all of the partition's Arrow
        # batches first (tiny: filename + two ints per capture) so each
        # file really is opened once and walked in globally ascending
        # offset order -- per-batch grouping would reopen files and seek
        # backwards whenever a selection spans batches.  The page ROWS
        # still stream out in bounded chunks.
        coords: dict[str, list[tuple[int, int]]] = {}
        for pdf in batches:
            for fname, off, ln in zip(
                pdf["filename"], pdf["offset"], pdf["length"]
            ):
                # basename only: a foreign index row must not escape
                # warc_dir ('../../x' or an absolute path)
                coords.setdefault(os.path.basename(str(fname)), []).append(
                    (int(off), int(ln))
                )
        rows: list[dict] = []
        for fname in sorted(coords):
            with open(os.path.join(warc_dir, fname), "rb") as f:
                for off, ln in sorted(coords[fname]):
                    f.seek(off)
                    rec = gzip.decompress(f.read(ln))
                    for headers, content in parse_records(rec):
                        if headers.get("warc-type") != "response":
                            continue
                        url, ts, lang = _record_fields(headers)
                        html = _http_body(content)
                        rows.append(
                            {
                                "url": url,
                                "warc_ts": ts,
                                "html": html,
                                "text": extract_text(html),
                                "lang": lang,
                            }
                        )
                        if len(rows) >= _BATCH_ROWS:
                            yield pd.DataFrame(rows, columns=cols)
                            rows = []
        if rows:
            yield pd.DataFrame(rows, columns=cols)

    return sel.mapInPandas(gen, PAGES_SCHEMA)


# -- CDX(J) url index ---------------------------------------------------------


def surt(url: str) -> str:
    """Simplified SURT urlkey (the public Sort-friendly URI Reordering
    Transform Common Crawl's index keys use): scheme dropped, host
    lowercased with leading 'www.' removed and label order reversed
    comma-joined, then ')/' + path lowercased.  Enough for grouping
    captures of one page; full SURT also canonicalizes queries/sessions,
    which the synthetic corpora here never carry."""
    rest = url.split("://", 1)[-1]
    host, slash, path = rest.partition("/")
    host = host.lower()
    if host.startswith("www."):
        host = host[4:]
    key = ",".join(reversed(host.split("."))) + ")/" + path.lower()
    # CDX(J) lines are space-delimited: a literal space/tab in a crawled
    # URL would shift the timestamp + JSON fields and the capture would
    # silently parse as null coordinates.  Real CDX urlkeys are
    # percent-encoded; encode every whitespace byte the same way.
    if any(c.isspace() for c in key):
        # encode the character's UTF-8 BYTES: ord()-based encoding is
        # wrong above U+00FF (U+2028 would yield '%2028', which decodes
        # as '%20' + '28' -- a malformed/ambiguous urlkey)
        key = "".join(
            "".join(f"%{b:02X}" for b in c.encode("utf-8"))
            if c.isspace()
            else c
            for c in key
        )
    return key


def read_cdx(spark: SparkSession, paths: list[str]) -> DataFrame:
    """CDXJ index lines ('urlkey 14-digit-timestamp {json}') -> a typed
    capture table.  Entirely JVM-side (text scan, two splits, from_json)
    -- no Python in the path, so a full crawl index scan stays in
    whole-stage codegen.  The capture table is what pre-fetch filtering,
    digest-level dedup, and latest-snapshot selection run against BEFORE
    any WARC byte is fetched -- at Common-Crawl scale the index is ~1% of
    the crawl bytes, so plan there first."""
    from pyspark.sql import functions as F

    lines = spark.read.text([str(p) for p in paths])
    parts = F.split(F.col("value"), " ", 3)
    j = F.from_json(
        parts[2],
        "url string, digest string, mime string, status string,"
        " filename string, offset string, length string",
    )
    return (
        lines.filter(F.length(F.trim("value")) > 0)
        .select(
            parts[0].alias("urlkey"),
            # CDX timestamps are UTC by convention; parse zone-AWARE
            # (explicit Z + X pattern) so the instant is right regardless
            # of spark.sql.session.timeZone -- a session-local
            # to_timestamp would drift captures vs the module's true-UTC
            # WARC-Date handling by the zone offset
            F.to_timestamp(
                F.concat(parts[1], F.lit("Z")), "yyyyMMddHHmmssX"
            ).alias("warc_ts"),
            j["url"].alias("url"),
            j["digest"].alias("digest"),
            j["mime"].alias("mime"),
            j["status"].cast("int").alias("status"),
            j["filename"].alias("filename"),
            j["offset"].cast("long").alias("offset"),
            j["length"].cast("long").alias("length"),
        )
    )

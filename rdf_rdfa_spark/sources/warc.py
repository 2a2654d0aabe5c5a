"""WARC → pages connector (ISO 28500; the Common Crawl layout).

Scale design: WARC files are the unit of parallelism — `binaryFile`
lists one row per file (only the ``path`` column is selected, which
binaryFile's column pruning turns into a pure listing: no contents
cross the JVM) and `mapInPandas` OPENS each path and parses records
inside the executor, so a crawl segment of thousands of .warc.gz
files fans out with zero driver involvement and no shuffle before the
parse. Records are parsed from the streamed bytes (multi-member gzip
or plain), response records paired with their HTTP payload, and
non-HTML responses dropped as early as possible (the content-type
filter runs before any body decoding).

Per-task memory is bounded by RECORD size, not file size — end to
end: bytes are read in 1 MiB slices from the open file, gzip members
are decompressed incrementally (``zlib.decompressobj`` with a capped
output window, one member at a time — Common Crawl gzips each record
as its own member), records are cut from a rolling buffer that is
compacted as records are emitted, and the Spark reader yields pages
in bounded Arrow batches.  An arbitrary multi-GB archive parses in
bounded memory (peak-RSS pinned by test).  A truncated or corrupt archive
yields every complete record before the damage and drops the tail —
one bad .warc.gz cannot abort a crawl-scale job (and a decode error
never escapes the reader).

The WARC grammar implemented here is the public ISO 28500 core:
``WARC/1.x`` version line, CRLF header block, Content-Length payload,
CRLF CRLF record separator.
"""

from __future__ import annotations

import gzip
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_CRLF2 = b"\r\n\r\n"
# a WARC header block larger than this is garbage, not a header
_MAX_HEADER = 1 << 20


def _split_headers(block: bytes) -> dict:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n")[1:]:  # [0] is the version/status line
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().decode("latin-1").lower()] = (
                v.strip().decode("latin-1"))
    return headers


def _iter_gunzip_stream(chunks: Iterator[bytes],
                        out_cap: int = 1 << 22) -> Iterator[bytes]:
    """Streaming multi-member gzip decode over a COMPRESSED chunk
    stream: yields bounded decompressed chunks, one member at a time,
    never materializing the archive on either side.  ``out_cap``
    bounds each output chunk even against high-ratio members (a gzip
    bomb inflates in 4 MiB steps, not in one allocation).  A truncated
    or corrupt member ends the stream — every complete member before
    it has already been yielded."""
    it = iter(chunks)
    carry = b""  # bytes past a member end (start of the next member)
    while True:
        while len(carry) < 2:  # need the magic to decide
            nxt = next(it, None)
            if nxt is None:
                return
            carry += nxt
        if carry[:2] != b"\x1f\x8b":
            return
        d = zlib.decompressobj(wbits=31)  # 31 = gzip wrapper
        tail = carry
        carry = b""
        try:
            while not d.eof:
                if tail:
                    feed, tail = tail, b""
                else:
                    feed = next(it, None)
                    if feed is None:
                        return  # truncated member: drop partial tail
                out = d.decompress(feed, out_cap)
                if out:
                    yield out
                tail = d.unconsumed_tail
        except zlib.error:
            return  # corrupt member: keep what we salvaged
        # bytes fed past the member end belong to the next member.
        # NOTE: at eof CPython leaves the same leftover visible in
        # BOTH unused_data and unconsumed_tail — adding `tail` here
        # would double the remainder every member (exponential
        # re-decode); unused_data alone is the next member's bytes
        carry = d.unused_data


def _iter_gunzip(data: bytes, chunk: int = 1 << 20,
                 out_cap: int = 1 << 22) -> Iterator[bytes]:
    """Bytes entry point for :func:`_iter_gunzip_stream` (in-memory
    archives: embedded fixtures, already-fetched segments)."""
    view = memoryview(data)
    slices = (bytes(view[i:i + chunk])
              for i in range(0, len(data), chunk))
    return _iter_gunzip_stream(slices, out_cap)


def _iter_records(chunks: Iterator[bytes]) -> Iterator[dict]:
    """Incremental ISO 28500 record parser over a chunk stream.  The
    rolling buffer holds at most one in-flight record (plus one input
    chunk) and is compacted as records are emitted."""
    buf = bytearray()
    pos = 0
    headers: dict | None = None
    need = 0
    for c in chunks:
        buf += c
        while True:
            if headers is None:
                while pos < len(buf) and buf[pos:pos + 1] in (b"\r", b"\n"):
                    pos += 1
                if len(buf) - pos < 5:
                    break  # need more bytes to see the version line
                if bytes(buf[pos:pos + 5]) != b"WARC/":
                    return  # not a record boundary: stop parsing
                hdr_end = buf.find(_CRLF2, pos)
                if hdr_end < 0:
                    if len(buf) - pos > _MAX_HEADER:
                        return
                    break  # header incomplete: need more bytes
                headers = _split_headers(bytes(buf[pos:hdr_end]))
                try:
                    need = int(headers.get("content-length", "0"))
                except ValueError:
                    return
                pos = hdr_end + 4
            if len(buf) - pos < need:
                break  # payload incomplete: need more bytes
            yield {"headers": headers, "payload": bytes(buf[pos:pos + need])}
            pos += need
            headers = None
            if pos > (1 << 20):  # compact the consumed prefix
                del buf[:pos]
                pos = 0
    if headers is not None:
        # stream ended mid-payload: a record is better parsed
        # approximately than dropped (header promised more bytes than
        # the damaged archive delivered)
        yield {"headers": headers, "payload": bytes(buf[pos:])}


def parse_warc_records(data: bytes) -> Iterator[dict]:
    """Yield {headers, payload} per WARC record. Accepts plain or
    (multi-member) gzip bytes; truncated/corrupt input yields the
    complete records and drops the damaged tail (never raises)."""
    if data[:2] == b"\x1f\x8b":
        chunks: Iterator[bytes] = _iter_gunzip(data)
    else:
        chunks = iter((data,))
    return _iter_records(chunks)


def _dechunk(body: bytes) -> bytes:
    """Decode an HTTP/1.1 chunked transfer encoding (crawlers store
    the raw wire bytes, so chunked bodies are common in real WARCs).
    Malformed chunking returns the bytes as-is — a page is better
    parsed approximately than dropped."""
    out = []
    pos = 0
    try:
        while True:
            eol = body.index(b"\r\n", pos)
            size = int(body[pos:eol].split(b";")[0], 16)
            if size == 0:
                break
            start = eol + 2
            out.append(body[start:start + size])
            pos = start + size + 2  # skip chunk CRLF
    except (ValueError, IndexError):
        return body
    return b"".join(out)


def _http_body(payload: bytes) -> tuple[bytes | None, str | None]:
    """HTTP response payload → (body, content_type); (None, None) when
    it isn't an HTTP response. Chunked transfer encoding and gzip
    content encoding are undone (raw wire capture)."""
    if not payload[:5] == b"HTTP/":
        return None, None
    sep = payload.find(_CRLF2)
    if sep < 0:
        return None, None
    headers = _split_headers(payload[:sep])
    body = payload[sep + 4:]
    if "chunked" in headers.get("transfer-encoding", ""):
        body = _dechunk(body)
    if headers.get("content-encoding", "").strip() in ("gzip", "x-gzip") \
            and body[:2] == b"\x1f\x8b":
        # EOFError (truncated stream) and zlib.error are as common as
        # BadGzipFile in crawl captures — a body is better kept raw
        # than the record dropped
        try:
            body = gzip.decompress(body)
        except (OSError, EOFError, zlib.error):
            pass
    return body, headers.get("content-type")


def _records_to_pages(records: Iterator[dict],
                      html_only: bool = True) -> Iterator[dict]:
    for rec in records:
        h = rec["headers"]
        if h.get("warc-type") != "response":
            continue
        url = h.get("warc-target-uri")
        if not url:
            continue
        body, ctype = _http_body(rec["payload"])
        if body is None:
            # a bare-payload response record (e.g. WET-style); keep it
            body = rec["payload"]
            ctype = h.get("content-type")
        if html_only and ctype is not None and "html" not in ctype:
            continue
        yield {
            "url": url,
            "warc_ts": pd.Timestamp(h.get("warc-date"))
            .tz_localize(None) if h.get("warc-date") else None,
            "html": body,
        }


def iter_warc_pages(data: bytes, html_only: bool = True) -> Iterator[dict]:
    """Stream page dicts (url, warc_ts, html) from one WARC file's
    bytes — records are decoded and released one at a time, so peak
    memory is one record, not the file."""
    return _records_to_pages(parse_warc_records(data), html_only)


def _local_path(path: str) -> str:
    """Spark file URI → local filesystem path.  The connector streams
    bytes with plain ``open()``, so only local (or locally mounted —
    NFS, FUSE, EBS/PD) storage is supported; a non-file scheme raises
    rather than silently buffering."""
    if "://" in path or path.startswith("file:"):
        if not path.startswith("file:"):
            raise ValueError(
                "read_warc_pages streams from local/mounted paths "
                "(file:); got %r — mount the store or localize the "
                "segments first" % path)
        path = path[5:]
        while path.startswith("//"):
            path = path[1:]
        # Spark percent-encodes special characters in file URIs
        # (spaces as %20 etc.) — decode so open() sees the real name
        from urllib.parse import unquote

        path = unquote(path)
    return path


def iter_warc_pages_from_file(path: str, html_only: bool = True,
                              chunk: int = 1 << 20) -> Iterator[dict]:
    """Stream page dicts from a WARC file PATH: bytes are read in
    ``chunk``-sized slices and fed straight into the streaming
    gunzip + record parser, so peak memory is one RECORD (plus one
    input chunk) — never the compressed file.  This is the scale path:
    an arbitrary-size archive parses in bounded memory."""
    with open(_local_path(path), "rb") as fh:
        first = fh.read(2)

        def chunks() -> Iterator[bytes]:
            yield first
            while True:
                c = fh.read(chunk)
                if not c:
                    return
                yield c

        if first == b"\x1f\x8b":
            stream: Iterator[bytes] = _iter_gunzip_stream(chunks())
        else:
            stream = chunks()
        yield from _records_to_pages(_iter_records(stream), html_only)


def warc_bytes_to_pages(data: bytes, html_only: bool = True):
    """One WARC file's bytes → list of page dicts (url, warc_ts, html).
    Pure function — shared by the Spark connector and unit tests."""
    return list(iter_warc_pages(data, html_only))


def read_warc_pages(spark: SparkSession, path: str,
                    html_only: bool = True,
                    batch_rows: int = 256) -> DataFrame:
    """WARC file glob → pages(url, warc_ts, html, text, lang).

    `text`/`lang` are NULL here (the pipeline reads only url and
    html); the columns exist so every source lands on the same
    input_hint schema.

    Pages are emitted in ``batch_rows``-sized Arrow batches as the
    record stream is consumed, and the file's BYTES are streamed from
    the opened path inside the task (binaryFile's column pruning means
    selecting only ``path`` never reads the contents JVM-side): peak
    task memory is one record + one input chunk, bounded regardless of
    archive size — a multi-GB .warc.gz is fine, not just Common
    Crawl's ~1 GB segment convention."""
    files = spark.read.format("binaryFile").load(path).select("path")
    cols = ["url", "warc_ts", "html"]

    def _frame(rows):
        df = pd.DataFrame(rows, columns=cols)
        df["text"] = None
        df["lang"] = None
        return df

    def gen(batches):
        for pdf in batches:
            for p in pdf["path"]:
                rows = []
                for page in iter_warc_pages_from_file(p, html_only):
                    rows.append(page)
                    if len(rows) >= batch_rows:
                        yield _frame(rows)
                        rows = []
                if rows:
                    yield _frame(rows)

    return files.mapInPandas(
        gen,
        schema=("url string, warc_ts timestamp, html binary, "
                "text string, lang string"),
    )

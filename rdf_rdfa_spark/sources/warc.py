"""WARC → pages connector (ISO 28500; the Common Crawl layout).

Scale design: WARC files are the unit of parallelism — `binaryFile`
lists one row per file (only the ``path`` column is selected, which
binaryFile's column pruning turns into a pure listing: no contents
cross the JVM) and `mapInPandas` OPENS each path and parses records
inside the executor, so a crawl segment of thousands of .warc.gz
files fans out with zero driver involvement and no shuffle before the
parse.  Response records are paired with their HTTP payload, and
non-HTML responses are dropped before any body decoding.

One reader, `_pages`, serves files and in-memory bytes alike.  A file
that starts with the gzip magic is read through ``gzip.GzipFile``,
which walks concatenated members (Common Crawl gzips each record as
its own member); anything else is read raw.  Decoded bytes arrive in
``read1`` pieces of at most 1 MiB, records are cut from a rolling
buffer that is compacted as records are emitted, and the Spark reader
yields pages in bounded Arrow batches, so per-task memory is bounded
by RECORD size, not file size (peak RSS pinned by test).  A truncated
or corrupt archive yields every record decoded before the damage and
drops the tail: one bad .warc.gz cannot abort a crawl-scale job.

The WARC grammar implemented here is the public ISO 28500 core:
``WARC/1.x`` version line, CRLF header block, Content-Length payload,
CRLF CRLF record separator.
"""

from __future__ import annotations

import gzip
import io
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


def _stream(fh) -> Iterator[bytes]:
    """Decoded bytes of a WARC file object, in pieces of at most 1 MiB.
    ``read1`` hands back each member's output as it is decoded, so a
    damaged member (or junk after the last one) ends the stream without
    losing what came before it; ``BadGzipFile`` and CRC failures are
    ``OSError``s."""
    magic = fh.read(2)
    fh.seek(0)
    src = gzip.GzipFile(fileobj=fh) if magic == b"\x1f\x8b" else fh
    while True:
        try:
            chunk = src.read1(1 << 20)
        except (EOFError, OSError, zlib.error):
            return
        if not chunk:
            return
        yield chunk


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
    return _iter_records(_stream(io.BytesIO(data)))


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


def _records_to_pages(records: Iterator[dict]) -> Iterator[dict]:
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
        if ctype is not None and "html" not in ctype:
            continue
        yield {
            "url": url,
            "warc_ts": pd.Timestamp(h.get("warc-date"))
            .tz_localize(None) if h.get("warc-date") else None,
            "html": body,
        }


def _pages(fh) -> Iterator[dict]:
    """Page dicts (url, warc_ts, html) from a seekable binary WARC file
    object, one record in memory at a time."""
    return _records_to_pages(_iter_records(_stream(fh)))


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


def iter_warc_pages_from_file(path: str) -> Iterator[dict]:
    """Stream page dicts from a WARC file PATH in bounded memory."""
    with open(_local_path(path), "rb") as fh:
        yield from _pages(fh)


def warc_bytes_to_pages(data: bytes) -> list:
    """One WARC file's bytes → list of page dicts (url, warc_ts, html),
    through the same reader as files."""
    return list(_pages(io.BytesIO(data)))


def read_warc_pages(spark: SparkSession, path: str,
                    batch_rows: int = 256) -> DataFrame:
    """WARC file glob → pages(url, warc_ts, html, text, lang).

    `text`/`lang` are NULL here (the pipeline reads only url and
    html); the columns exist so every source lands on the same
    input_hint schema.

    Pages are emitted in ``batch_rows``-sized Arrow batches as the
    record stream is consumed, and each file is opened and streamed
    inside the task: peak task memory is one record plus one 1 MiB
    decoded piece, whatever the archive's size."""
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
                for page in iter_warc_pages_from_file(p):
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

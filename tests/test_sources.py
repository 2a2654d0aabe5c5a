"""Source connectors: WARC (ISO 28500 / Common Crawl layout) and
jsonl crawl dumps → the canonical pages schema → extraction e2e."""

import gzip
import io
import itertools
import os

from rdf_rdfa_spark.sources.warc import (
    parse_warc_records, warc_bytes_to_pages, read_warc_pages)
from rdf_rdfa_spark.sources.jsonl import read_jsonl_pages
from rdf_rdfa_spark.pipeline.extract import extract_triples


def _warc_record(rtype, uri, payload, extra=()):
    headers = ["WARC/1.0",
               "WARC-Type: " + rtype,
               "WARC-Date: 2026-01-02T03:04:05Z",
               "WARC-Record-ID: <urn:uuid:%s>" % rtype]
    if uri:
        headers.append("WARC-Target-URI: " + uri)
    headers.extend(extra)
    headers.append("Content-Length: %d" % len(payload))
    return ("\r\n".join(headers) + "\r\n\r\n").encode() + payload + b"\r\n\r\n"


def _http(body: bytes, ctype="text/html; charset=utf-8"):
    return ("HTTP/1.1 200 OK\r\nContent-Type: %s\r\n"
            "Content-Length: %d\r\n\r\n" % (ctype, len(body))).encode() + body


HTML1 = b'<html><body><div about="#a" property="dc:title">One</div></body></html>'
HTML2 = b'<html><body><div about="#b" property="dc:title">Two</div></body></html>'


def _sample_warc() -> bytes:
    return b"".join([
        _warc_record("warcinfo", None, b"software: test\r\n"),
        _warc_record("request", "http://w.example/1", b"GET / HTTP/1.1\r\n"),
        _warc_record("response", "http://w.example/1", _http(HTML1)),
        _warc_record("response", "http://w.example/img",
                     _http(b"\x89PNG...", ctype="image/png")),
        _warc_record("response", "http://w.example/2", _http(HTML2)),
    ])


def test_parse_warc_records_plain_and_gzip():
    raw = _sample_warc()
    for data in (raw, gzip.compress(raw)):
        recs = list(parse_warc_records(data))
        assert [r["headers"]["warc-type"] for r in recs] == [
            "warcinfo", "request", "response", "response", "response"]
        assert recs[2]["headers"]["warc-target-uri"] == "http://w.example/1"


def test_warc_bytes_to_pages_filters_html():
    pages = warc_bytes_to_pages(_sample_warc())
    assert [p["url"] for p in pages] == ["http://w.example/1",
                                         "http://w.example/2"]
    assert pages[0]["html"] == HTML1
    assert str(pages[0]["warc_ts"]) == "2026-01-02 03:04:05"


def test_read_warc_pages_end_to_end(spark, tmp_path):
    # two files: one plain, one per-record-gzip-style (whole-file gzip)
    (tmp_path / "a.warc").write_bytes(_sample_warc())
    (tmp_path / "b.warc.gz").write_bytes(gzip.compress(_sample_warc()))
    pages = read_warc_pages(spark, str(tmp_path) + "/*.warc*")
    assert pages.count() == 4
    got = {(r["url"], r["subj"]) for r in extract_triples(pages).collect()}
    assert ("http://w.example/1", "http://w.example/1#a") in got
    assert ("http://w.example/2", "http://w.example/2#b") in got


def test_warc_percent_encoded_path(spark, tmp_path):
    """Spark returns file URIs with special characters percent-encoded
    (spaces as %20); the streaming reader must decode before open()."""
    sub = tmp_path / "crawl dir"
    sub.mkdir()
    (sub / "a b.warc").write_bytes(_sample_warc())
    pages = read_warc_pages(spark, str(sub) + "/*.warc")
    assert pages.count() == 2


def test_read_jsonl_pages(spark, tmp_path):
    p = tmp_path / "dump.jsonl"
    p.write_text(
        '{"url": "http://j.example/1", "html": "%s", '
        '"timestamp": "2026-01-02T03:04:05Z", "lang": "en"}\n'
        % HTML1.decode().replace('"', '\\"'))
    pages = read_jsonl_pages(spark, str(p))
    rows = pages.collect()
    assert rows[0]["url"] == "http://j.example/1" and rows[0]["lang"] == "en"
    out = extract_triples(pages).collect()
    assert any(r["subj"] == "http://j.example/1#a" for r in out)


def test_http_chunked_and_gzip_bodies():
    from rdf_rdfa_spark.sources.warc import _http_body

    chunked = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
               b"Transfer-Encoding: chunked\r\n\r\n"
               b"5\r\n<html\r\n8\r\n>x</html\r\n1\r\n>\r\n0\r\n\r\n")
    body, ctype = _http_body(chunked)
    assert body == b"<html>x</html>" and ctype == "text/html"

    gz = gzip.compress(HTML1)
    resp = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: gzip\r\n\r\n" + gz)
    body, _ = _http_body(resp)
    assert body == HTML1
    # malformed chunking degrades to raw bytes, never raises
    bad = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nZZZ")
    assert _http_body(bad)[0] == b"ZZZ"


def test_warc_parser_hostile_bytes():
    import random

    rnd = random.Random(7)
    for _ in range(200):
        blob = bytes(rnd.randrange(256) for _ in range(rnd.randrange(400)))
        list(parse_warc_records(blob))          # no crash
        warc_bytes_to_pages(blob)
    # truncated record: header promises more bytes than exist
    trunc = (b"WARC/1.0\r\nWARC-Type: response\r\n"
             b"WARC-Target-URI: http://t/\r\nContent-Length: 100000\r\n\r\nhi")
    pages = warc_bytes_to_pages(trunc)
    assert len(pages) == 1 and pages[0]["html"] == b"hi"


def test_warc_truncated_gzip_salvages_complete_members():
    """Common Crawl gzips each record as its own member; a truncated
    or corrupt .warc.gz must yield every complete member's records
    instead of aborting the task (EOFError/zlib.error swallowed)."""
    recs = [_warc_record("response", "http://t.example/%d" % i, _http(HTML1))
            for i in range(5)]
    multi = b"".join(gzip.compress(r) for r in recs)
    assert len(list(parse_warc_records(multi))) == 5
    # truncate mid-archive: complete members before the cut survive
    salvaged = list(parse_warc_records(multi[: len(multi) // 2]))
    assert 1 <= len(salvaged) < 5
    # corrupt middle member: records before the damage survive
    bad = (gzip.compress(recs[0]) + b"\x1f\x8b\x08\x00GARBAGEGARBAGE"
           + gzip.compress(recs[1]))
    assert len(list(parse_warc_records(bad))) == 1
    # and the page-level API never raises on either
    assert warc_bytes_to_pages(multi[: len(multi) // 2])
    assert warc_bytes_to_pages(bad)


def test_warc_streaming_bounded_batches(spark, tmp_path):
    """read_warc_pages emits pages in bounded Arrow batches while the
    record stream is consumed — a many-page archive must not require
    one frame per file (batch_rows caps it)."""
    recs = [_warc_record("response", "http://b.example/%d" % i, _http(HTML1))
            for i in range(20)]
    (tmp_path / "big.warc.gz").write_bytes(
        b"".join(gzip.compress(r) for r in recs))
    pages = read_warc_pages(spark, str(tmp_path) + "/*.warc.gz", batch_rows=4)
    assert pages.count() == 20
    urls = {r["url"] for r in pages.select("url").collect()}
    assert urls == {"http://b.example/%d" % i for i in range(20)}


def test_warc_gzip_bomb_inflates_in_bounded_chunks():
    """_stream must never hand back one giant allocation for a
    high-ratio member: ``read1`` caps each decoded piece at 1 MiB, so a
    64 MiB-of-zeros member arrives in many bounded pieces."""
    from rdf_rdfa_spark.sources.warc import _stream

    bomb = gzip.compress(b"\x00" * (64 << 20))      # ~64 KiB compressed
    total = 0
    max_chunk = 0
    for chunk in _stream(io.BytesIO(bomb)):
        total += len(chunk)
        max_chunk = max(max_chunk, len(chunk))
    assert total == 64 << 20
    assert max_chunk <= 1 << 20


def test_warc_every_truncation_point_salvages_a_prefix():
    """Cut a 5-member archive at every byte offset: the reader never
    raises, returns a prefix of the full parse (its last record may
    lose the tail of its payload) and keeps, whole, every member that
    ends before the cut."""
    recs = [_warc_record("response", "http://t.example/%d" % i, _http(HTML1))
            for i in range(5)]
    members = [gzip.compress(r) for r in recs]
    multi = b"".join(members)
    full = list(parse_warc_records(multi))
    assert len(full) == 5
    ends = list(itertools.accumulate(map(len, members)))
    for cut in range(len(multi) + 1):
        got = list(parse_warc_records(multi[:cut]))
        whole = sum(end <= cut for end in ends)
        assert len(got) >= whole and got[:whole] == full[:whole], cut
        if got:
            assert got[:-1] == full[:len(got) - 1], cut
            last = full[len(got) - 1]
            assert got[-1]["headers"] == last["headers"], cut
            assert last["payload"].startswith(got[-1]["payload"]), cut


def test_warc_zero_padding_and_trailing_junk():
    """Zero padding between members is skipped, as gzip(1) does, so
    both members are kept; junk after the last member drops nothing."""
    recs = [_warc_record("response", "http://t.example/%d" % i, _http(HTML1))
            for i in range(3)]
    members = [gzip.compress(r) for r in recs]
    padded = members[0] + b"\x00" * 16 + members[1]
    assert [r["headers"]["warc-target-uri"]
            for r in parse_warc_records(padded)] == [
        "http://t.example/0", "http://t.example/1"]
    multi = b"".join(members)
    for tail in (b"\x00" * 7, b"junk after the last member", b"\x1f\x8b"):
        assert len(list(parse_warc_records(multi + tail))) == 3
        assert len(warc_bytes_to_pages(multi + tail)) == 3


def test_warc_multi_gb_archive_parses_in_bounded_memory(tmp_path):
    """The scale contract: an archive whose DECOMPRESSED size is ~1 GiB
    (64 members x 16 MiB, highly compressible, so the file itself is
    small and quick to build) parses from its PATH with peak RSS far
    below the decompressed size — per-task memory is record-bounded,
    end to end.  Runs in a subprocess so ru_maxrss measures only this
    parse."""
    import subprocess
    import sys

    body = b"a" * (16 << 20)
    rec = _warc_record("response", "http://big.example/x", _http(body))
    member = gzip.compress(rec, compresslevel=1)
    warc = tmp_path / "huge.warc.gz"
    with open(warc, "wb") as fh:
        for _ in range(64):
            fh.write(member)
    script = (
        "import resource, sys\n"
        "sys.path.insert(0, %r)\n"
        "from rdf_rdfa_spark.sources.warc import iter_warc_pages_from_file\n"
        "n = tot = 0\n"
        "for p in iter_warc_pages_from_file(%r):\n"
        "    n += 1; tot += len(p['html'])\n"
        "print(n, tot, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)\n"
        % (os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
           str(warc))
    )
    out = subprocess.run([sys.executable, "-c", script],
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr
    n, tot, maxrss_kb = (int(x) for x in out.stdout.split())
    assert n == 64 and tot == 64 * len(body)
    # 1 GiB decompressed; record-bounded parse stays far below it
    # (interpreter + imports + one 16 MiB record + chunk buffers)
    assert maxrss_kb < 500 * 1024, "peak RSS %.0f MiB" % (maxrss_kb / 1024)

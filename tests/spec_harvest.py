"""Harvest HTML→Turtle golden tables out of the reference's
reader_spec.rb at test time.

The reference's unit spec stores hundreds of cases as Ruby hash
tables — ``"name" => [%q(input html), %q(expected turtle)]`` — each
run through ``parse(...)`` + ``be_equivalent_graph`` (reader_spec.rb
:865, :1292, :1316, :1403, :1512, :1812).  Instead of transcribing
them (lossy, samples only), we parse the tables out of the spec file
itself at test time, exactly like tests/test_resolve.py does for the
RFC3986 corpus.  The spec file is read-only reference DATA, never
code.
"""

from __future__ import annotations

import os
import re

SPEC = "/root/reference/spec/reader_spec.rb"

_PAIRS = {"(": ")", "{": "}", "[": "]", "<": ">"}


class HarvestError(Exception):
    pass


def _skip_ws(src: str, i: int) -> int:
    """Skip whitespace and entry-level Ruby comments."""
    n = len(src)
    while i < n:
        c = src[i]
        if c in " \t\r\n":
            i += 1
        elif c == "#":
            j = src.find("\n", i)
            i = n if j < 0 else j + 1
        else:
            break
    return i


def _scan_percent(src: str, i: int):
    """Scan a Ruby %-literal (%q(..), %(..), %q{..}) starting at
    src[i] == '%'.  Returns (content, next_index).  The delimiter pair
    nests; a backslash unescapes only the delimiters and itself (the
    %q rule — close enough for %Q too since the harvested tables use
    no other escapes)."""
    j = i + 1
    if j < len(src) and src[j] in "qQwWiI":
        j += 1
    open_c = src[j]
    close_c = _PAIRS.get(open_c, open_c)
    depth = 1
    j += 1
    out = []
    n = len(src)
    while j < n:
        c = src[j]
        if c == "\\" and j + 1 < n:
            nxt = src[j + 1]
            if nxt in (open_c, close_c, "\\"):
                out.append(nxt)
            else:
                out.append(c)
                out.append(nxt)
            j += 2
            continue
        if c == open_c and open_c != close_c:
            depth += 1
        elif c == close_c:
            depth -= 1
            if depth == 0:
                return "".join(out), j + 1
        out.append(c)
        j += 1
    raise HarvestError("unterminated %%-literal at offset %d" % i)


def _scan_dquote(src: str, i: int):
    """Scan a double-quoted Ruby string starting at src[i] == '"'."""
    j = i + 1
    out = []
    n = len(src)
    while j < n:
        c = src[j]
        if c == "\\" and j + 1 < n:
            out.append(c)
            out.append(src[j + 1])
            j += 2
            continue
        if c == '"':
            return "".join(out), j + 1
        out.append(c)
        j += 1
    raise HarvestError("unterminated string at offset %d" % i)


def harvest_table(anchor: str, spec_path: str = SPEC):
    """Extract [(name, [literal, ...]), ...] from the first Ruby hash
    table following ``anchor`` in the spec file.  Handles string keys
    (``"name" =>``) and symbol-shorthand keys (``name:``); values are
    arrays of %-literals / double-quoted strings.  Without the spec
    file there are no cases (its tests skip)."""
    if not os.path.exists(spec_path):
        return []
    with open(spec_path, encoding="utf-8") as f:
        src = f.read()
    i = src.index(anchor)
    i = src.index("{", i) + 1
    cases = []
    while True:
        i = _skip_ws(src, i)
        c = src[i]
        if c == "}":
            break
        if c == '"':
            key, i = _scan_dquote(src, i)
            i = _skip_ws(src, i)
            if src[i : i + 2] != "=>":
                raise HarvestError("expected => after key %r" % key)
            i += 2
        else:
            m = re.match(r"([A-Za-z_]\w*):", src[i:])
            if not m:
                raise HarvestError("cannot parse key at %r" % src[i : i + 40])
            key = m.group(1)
            i += m.end()
        i = _skip_ws(src, i)
        if src[i] != "[":
            raise HarvestError("expected [ for case %r" % key)
        i += 1
        lits = []
        while True:
            i = _skip_ws(src, i)
            if src[i] == "]":
                i += 1
                break
            if src[i] == "%":
                lit, i = _scan_percent(src, i)
            elif src[i] == '"':
                lit, i = _scan_dquote(src, i)
            else:
                raise HarvestError(
                    "unexpected value syntax for %r: %r" % (key, src[i : i + 40])
                )
            lits.append(lit)
            i = _skip_ws(src, i)
            if src[i] == ",":
                i += 1
        cases.append((key, lits))
        i = _skip_ws(src, i)
        if src[i] == ",":
            i += 1
    return cases


def _scan_squote(src: str, i: int):
    """Scan a single-quoted Ruby string (only \\' and \\\\ escape)."""
    j = i + 1
    out = []
    n = len(src)
    while j < n:
        c = src[j]
        if c == "\\" and j + 1 < n and src[j + 1] in ("'", "\\"):
            out.append(src[j + 1])
            j += 2
            continue
        if c == "'":
            return "".join(out), j + 1
        out.append(c)
        j += 1
    raise HarvestError("unterminated string at offset %d" % i)


def _scan_key(src: str, i: int):
    """Scan a hash key: ``"name" =>``, ``'name' =>``, ``name:`` or
    ``:name =>``. Returns (key, next_index)."""
    c = src[i]
    if c in "\"'":
        key, i = (_scan_dquote if c == '"' else _scan_squote)(src, i)
        i = _skip_ws(src, i)
        if src[i : i + 2] != "=>":
            raise HarvestError("expected => after key %r" % key)
        return key, i + 2
    m = re.match(r":?([A-Za-z_]\w*)(:|\s*=>)", src[i:])
    if not m:
        raise HarvestError("cannot parse key at %r" % src[i : i + 40])
    return m.group(1), i + m.end()


def _scan_value(src: str, i: int):
    """Scan a %-literal / quoted string / nested hash-of-literals."""
    c = src[i]
    if c == "%":
        return _scan_percent(src, i)
    if c == '"':
        return _scan_dquote(src, i)
    if c == "'":
        return _scan_squote(src, i)
    if c == "{":
        i += 1
        entries = {}
        while True:
            i = _skip_ws(src, i)
            if src[i] == "}":
                return entries, i + 1
            k, i = _scan_key(src, i)
            i = _skip_ws(src, i)
            v, i = _scan_value(src, i)
            entries[k] = v
            i = _skip_ws(src, i)
            if src[i] == ",":
                i += 1
    raise HarvestError("unexpected value syntax: %r" % src[i : i + 40])


def harvest_hash_table(anchor: str, spec_path: str = SPEC):
    """Extract [(name, value)] from the first Ruby hash table after
    ``anchor`` where values are literals OR nested hashes of literals
    (the expansion_spec table shape).  Without the spec file there are
    no cases (its tests skip)."""
    if not os.path.exists(spec_path):
        return []
    with open(spec_path, encoding="utf-8") as f:
        src = f.read()
    i = src.index(anchor)
    i = src.index("{", i) + 1
    cases = []
    while True:
        i = _skip_ws(src, i)
        if src[i] == "}":
            break
        key, i = _scan_key(src, i)
        i = _skip_ws(src, i)
        value, i = _scan_value(src, i)
        cases.append((key, value))
        i = _skip_ws(src, i)
        if src[i] == ",":
            i += 1
    return cases

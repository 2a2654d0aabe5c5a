"""Benchmark-local tests: generator determinism, oracle consistency at a
tiny size, the checks' ability to fail, and a smoke run of every
workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402


@pytest.fixture(scope="module")
def tiny():
    return gen.generate(5, n_pages=60, n_heldout_batches=2,
                        heldout_batch_pages=4, n_warc_files=3)


def _norm(rows):
    return Counter(tuple("_:" if isinstance(v, str) and v.startswith("_:")
                         else v for v in r) for r in rows)


def test_same_seed_same_bytes(tiny):
    again = gen.generate(5, n_pages=60, n_heldout_batches=2,
                         heldout_batch_pages=4, n_warc_files=3)
    assert again.warc_files == tiny.warc_files
    assert again.expected == tiny.expected
    assert again.components == tiny.components
    assert [[p.html for p in b] for b in again.heldout] == \
        [[p.html for p in b] for b in tiny.heldout]
    other = gen.generate(6, n_pages=60, n_heldout_batches=2,
                         heldout_batch_pages=4, n_warc_files=3)
    assert other.warc_files != tiny.warc_files


def test_oracle_matches_parser(tiny):
    from rdf_rdfa_spark.pipeline.extract import rows_for_document

    for batch in [tiny.pages] + tiny.heldout:
        for p in batch:
            got = [r[1:7] for r in rows_for_document(p.html, p.url)]
            assert _norm(got) == Counter(p.triples), p.url


def test_corpus_shape(tiny):
    structured = sum(p.structured for p in tiny.pages)
    assert 0.3 < structured / len(tiny.pages) < 0.7
    assert all(not p.triples for p in tiny.pages if not p.structured)
    # every component's canonical is its smallest member
    members: dict = {}
    for e, c in tiny.components.items():
        members.setdefault(c, []).append(e)
    assert members and all(c == min(ms) for c, ms in members.items())
    # every sameAs edge of the oracle joins two members of one component
    same = {gen.OWL_SAMEAS, gen.SCHEMA_SAMEAS}
    edges = [(s, o) for p in tiny.pages for (s, pr, o, *_r) in p.triples
             if pr in same]
    assert len(edges) == sum(len(ms) - 1 for ms in members.values())
    assert all(tiny.components[s] == tiny.components[o] for s, o in edges)


def test_warc_files_decode_to_pages(tiny):
    from rdf_rdfa_spark.sources.warc import warc_bytes_to_pages

    decoded = [pg for name in sorted(tiny.warc_files)
               for pg in warc_bytes_to_pages(tiny.warc_files[name])]
    assert [(d["url"], d["html"]) for d in decoded] == \
        [(p.url, p.html) for p in tiny.pages]


def _write_store(root, rows):
    """rows: (url, subj, pred, obj, obj_kind) in the store's hive layout."""
    part = os.path.join(root, "triples", "graph=output", "bucket=0")
    os.makedirs(part)
    cols = list(zip(*rows))
    n = len(rows)
    pq.write_table(pa.table({
        "url": list(cols[0]), "subj": list(cols[1]), "pred": list(cols[2]),
        "obj": list(cols[3]), "obj_kind": list(cols[4]),
        "lang": pa.array([None] * n, pa.string()),
        "datatype": pa.array([None] * n, pa.string()),
    }), os.path.join(part, "part-0.parquet"))
    return os.path.join(part, "part-0.parquet")


def test_checks_detect_wrong_outputs(tmp_path):
    row = ("http://u/1", "http://s/1", checks.KNOWS, "http://o/1", "iri")
    path = _write_store(str(tmp_path), [row])
    want = {"http://u/1": [(row[1], row[2], row[3], "iri", None, None)]}
    assert checks.check_store(str(tmp_path), want)["wrong_urls"] == 0
    assert checks.check_store(str(tmp_path), {"http://u/1": []})["wrong_urls"] == 1
    ok = {"template": "reverse", "const": "http://o/1", "files": [path],
          "rows": [("http://s/1",)]}
    bad = dict(ok, rows=[("http://s/2",)])
    assert list(checks.check_answers([ok, bad])) == [1]
    assert checks.check_clusters({"a": "a", "b": "a"}, {"a": "a", "b": "a"})[
        "wrong_entities"] == 0
    assert checks.check_clusters({"a": "a"}, {"a": "a", "b": "a"})[
        "wrong_entities"] == 1


def test_missing_library_exits_nonzero(tmp_path):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", "ingest", "--seed", "1"],
                       cwd=str(tmp_path), capture_output=True, text=True,
                       timeout=60)
    assert r.returncode != 0 and not r.stdout.strip()


def test_smoke_all_workloads():
    """One session runs ingest, refine and serve at a tiny size; every
    output check runs and passes."""
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "all",
                        "--seed", "3", "--seconds", "1", "--pages", "40"],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    res = json.loads(r.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    for w in ("ingest", "refine", "serve"):
        assert res["metrics"]["%s.throughput_per_s" % w]["value"] > 0
    for name in ("ingest.pages_per_s", "refine.wall_s", "serve.read_p90_ms",
                 "serve.append_p50_ms", "serve.ops_per_s", "setup_s"):
        assert name in r.stdout

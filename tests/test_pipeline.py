"""Spark pipeline tests (slower — one shared session).

Cross-engine value checks against DuckDB live in test_oracles.py;
these tests cover the distributed algorithms' semantics against
in-Python references.
"""

import os

import pytest
from pyspark.sql import functions as F

from rdf_rdfa_spark import corpus
from rdf_rdfa_spark.pipeline.expand import entail, entail_fixpoint, tbox_closures
from rdf_rdfa_spark.pipeline.extract import extract_triples, extract_text
from rdf_rdfa_spark.pipeline.link import connected_components
from rdf_rdfa_spark.pipeline import bgpq, canonicalize, materialize

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
SCO = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
SPO = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"
EQC = "http://www.w3.org/2002/07/owl#equivalentClass"


def test_extract_matches_oracle_sample(spark, sf_dir):
    import duckdb

    pages = corpus.pages_df(spark, sf_dir)
    got = {tuple(r) for r in extract_triples(pages).collect()}
    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM '%s/documents.parquet'" % sf_dir)
    want = {tuple(r) for r in con.sql(corpus.triples_oracle_sql()).fetchall()}
    assert got == want


def test_text_byte_identity(spark, sf_dir):
    pages = corpus.pages_df(spark, sf_dir)
    extracted = extract_text(pages).withColumnRenamed("text", "extracted")
    bad = (
        extracted.join(pages.select("url", "text"), "url")
        .filter("extracted <> text OR extracted IS NULL")
        .count()
    )
    assert bad == 0


def test_extract_handles_broken_page(spark):
    rows = [("http://x.example/ok",
             b'<html><body><span about="a" property="dc:title">T</span></body></html>'),
            ("http://x.example/garbage", bytes(range(256))),
            ("http://x.example/null", None)]
    pages = spark.createDataFrame(rows, "url string, html binary")
    out = extract_triples(pages).collect()
    urls = {r["url"] for r in out}
    assert "http://x.example/ok" in urls
    # a None page yields a processor row, never a task failure
    assert any(r["graph"] == "processor" for r in out
               if r["url"] == "http://x.example/null")


def test_tbox_closure():
    prop, cls = tbox_closures([
        ("a", SPO, "b"), ("b", SPO, "c"),
        ("X", SCO, "Y"), ("Y", EQC, "Z"),
    ])
    assert ("a", "c") in prop and ("a", "b") in prop
    assert ("X", "Z") in set(cls) and ("Z", "Y") in set(cls)


def test_entail_equals_fixpoint(spark):
    abox = spark.createDataFrame(
        [("x", RDF_TYPE, "A"), ("u", "p1", "v")],
        "subj string, pred string, obj string",
    )
    tbox = spark.createDataFrame(
        [("A", SCO, "B"), ("B", SCO, "C"), ("p1", SPO, "p2"), ("p2", SPO, "p3")],
        "sub string, rel string, sup string",
    )
    fast = {tuple(r) for r in entail(abox, tbox).collect()}
    slow = {tuple(r) for r in entail_fixpoint(abox, tbox).collect()}
    assert fast == slow
    assert ("x", RDF_TYPE, "C") in fast
    assert ("u", "p3", "v") in fast


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")],
        "src string, dst string",
    )
    cc = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"
    assert cc["d"] == cc["e"] == "d"
    assert cc["f"] == "f"


def test_connected_components_long_chain(spark):
    """Pointer-jumping convergence: a 120-node path graph (diameter
    119) must fully converge well inside max_iter=20 — pure
    neighbor-min would need 119 rounds — and still label every node
    with the lexicographic-min member ('n000')."""
    edges = spark.createDataFrame(
        [("n%03d" % i, "n%03d" % (i + 1)) for i in range(119)],
        "src string, dst string",
    )
    cc = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert len(cc) == 120
    assert set(cc.values()) == {"n000"}


# a 7-node chain needs more than one round in every fixpoint loop
_CHAIN = [("n%d" % i, "n%d" % (i + 1)) for i in range(6)]
_ONE_ROUND = {
    "bgpq_closure": lambda spark: bgpq._closure(
        spark.createDataFrame(_CHAIN, "s string, o string"), max_iters=1),
    "entail_fixpoint": lambda spark: entail_fixpoint(
        spark.createDataFrame([("x", "n0", "y")],
                              "subj string, pred string, obj string"),
        spark.createDataFrame([(a, SPO, b) for a, b in _CHAIN],
                              "sub string, rel string, sup string"),
        max_iters=1),
    "connected_components": lambda spark: connected_components(
        spark.createDataFrame(_CHAIN, "src string, dst string"), max_iter=1),
}


@pytest.mark.parametrize("loop", list(_ONE_ROUND))
def test_fixpoint_loop_raises_at_cap(spark, loop):
    """A loop that hits its iteration cap fails loudly instead of
    returning a partial answer."""
    with pytest.raises(ValueError, match="did not converge"):
        _ONE_ROUND[loop](spark)


def test_link_entities_leaves_session_conf_alone(spark, monkeypatch):
    """Linking must not change shared session settings: other queries
    may run on the same session meanwhile."""
    from pyspark.sql.conf import RuntimeConfig

    from rdf_rdfa_spark.pipeline.link import link_entities

    calls = []
    monkeypatch.setattr(RuntimeConfig, "set",
                        lambda self, *a, **kw: calls.append(a))
    triples = spark.createDataFrame(
        [("u1", "http://e/%d" % i, "http://schema.org/sameAs",
          "http://e/%d" % (i + 1), "iri") for i in range(5)],
        "url string, subj string, pred string, obj string, obj_kind string")
    assert link_entities(triples).count() == 5
    assert calls == []


def test_link_entities_broadcast_and_shuffle_paths(spark):
    """link_entities must rewrite identically whether the cluster map
    is broadcast (default) or falls back to a shuffle join above the
    max_broadcast_rows guard."""
    from rdf_rdfa_spark.pipeline.link import link_entities

    rows = [
        ("u1", "http://e/a", "http://www.w3.org/2002/07/owl#sameAs",
         "http://e/b", "iri"),
        ("u1", "http://e/b", "http://e/p", "val", "literal"),
        ("u2", "http://e/c", "http://e/p", "http://e/a", "iri"),
    ]
    triples = spark.createDataFrame(
        rows, "url string, subj string, pred string, obj string, "
              "obj_kind string")

    def canon(df):
        return sorted((r["subj"], r["pred"], r["obj"])
                      for r in df.collect())

    broadcast = canon(link_entities(triples))
    shuffled = canon(link_entities(triples, max_broadcast_rows=0))
    assert broadcast == shuffled
    # a and b collapse to the lexicographic min (http://e/a)
    assert ("http://e/a", "http://e/p", "val") in broadcast
    assert ("http://e/c", "http://e/p", "http://e/a") in broadcast


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base.replace("lazy", "sleepy", 1)
    far = "completely different words entirely unrelated content here " * 8
    docs = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], "doc_id long, text string"
    )
    sigs = canonicalize.minhash_signatures(docs)
    pairs = canonicalize.lsh_candidate_pairs(sigs)
    verified = canonicalize.jaccard_verify(pairs, docs, threshold=0.5)
    got = {(r["a"], r["b"]) for r in verified.collect()}
    assert (0, 1) in got
    assert (0, 2) not in got and (1, 2) not in got


def test_write_triples_append_refuses_modulus_change(spark, tmp_path):
    """Appending with a different bucket modulus would leave old rows
    in old-modulus partition dirs while pruned queries hash with the
    new one — write_triples must refuse instead of rewriting the
    meta."""
    t = spark.createDataFrame(
        [("u", "s", "p", "o", "iri", None, None, None)],
        "url string, subj string, pred string, obj string, "
        "obj_kind string, lang string, datatype string, graph string")
    root = str(tmp_path / "store")
    materialize.write_triples(t, root, buckets=16)
    with pytest.raises(ValueError, match="buckets=16"):
        materialize.write_triples(t, root, buckets=32, mode="append")
    # same modulus appends fine; overwrite may change it
    materialize.write_triples(t, root, buckets=16, mode="append")
    materialize.write_triples(t, root, buckets=8, mode="overwrite")
    assert materialize.store_buckets(root) == 8


def _rows(spark, root):
    return sorted(tuple(r) for r in materialize.read_triples(spark, root)
                  .collect())


def _crash_after_commit(monkeypatch, nth):
    """Make the ``nth`` write_triples call commit, then raise: a process
    that dies right after its HEAD swap."""
    real, calls = materialize.write_triples, []

    def write(*a, **kw):
        calls.append(real(*a, **kw))
        if len(calls) == nth:
            raise RuntimeError("simulated crash after commit")
        return calls[-1]

    monkeypatch.setattr(materialize, "write_triples", write)


def test_write_triples_counts_empty_input(spark, tmp_path):
    """An input Catalyst proves empty is planned away with its
    observation; the commit still lands and counts 0 triples."""
    t = spark.createDataFrame([], "url string, subj string, pred string, "
                              "obj string, obj_kind string, lang string, "
                              "datatype string, graph string")
    root = str(tmp_path / "store")
    n = materialize.write_triples(t, root, buckets=4, inputs=["x"])
    head = materialize._manifest(root)
    assert n == 1 and head["stats"]["triples"] == 0
    assert head["files"] == [] and head["inputs"] == ["x"]


def test_materialize_resumable(spark, sf_dir, tmp_path, monkeypatch):
    pages = corpus.pages_df(spark, sf_dir).limit(60).cache()
    root = str(tmp_path / "store")
    real_write, real_replace = materialize.write_triples, materialize._replace

    def lose_head_swap(path, text):
        if os.path.basename(path) != "HEAD":
            real_replace(path, text)

    def write(*a, **kw):
        if kw.get("chunk") != 2:
            return real_write(*a, **kw)
        # chunk 2's commit writes its files and manifest, but the HEAD
        # swap is lost, as if the process had died there
        with monkeypatch.context() as m:
            m.setattr(materialize, "_replace", lose_head_swap)
            return real_write(*a, **kw)

    with monkeypatch.context() as m:
        m.setattr(materialize, "write_triples", write)
        m1 = materialize.materialize_resumable(pages, root, chunks=4)
    assert len(m1["ran"]) == 4 and not m1["skipped"]
    # partial resume: exactly the chunk HEAD's inputs lack re-runs
    m2 = materialize.materialize_resumable(pages, root, chunks=4)
    assert m2["ran"] == [2]
    total = materialize.read_triples(spark, root).count()
    # idempotent resume: nothing re-runs, store unchanged
    m3 = materialize.materialize_resumable(pages, root, chunks=4)
    assert len(m3["skipped"]) == 4 and not m3["ran"]
    assert materialize.read_triples(spark, root).count() == total
    lineage = materialize.lineage_summary(root)
    assert lineage["pages"] == 60
    assert lineage["triples"] == total
    assert (
        materialize.read_triples(spark, root)
        .filter("graph = 'output'").count() > 0
    )


def test_materialize_resumable_crash_after_commit(
        spark, sf_dir, tmp_path, monkeypatch):
    """A run that dies right after chunk 0's commit must not ingest
    chunk 0 again when re-run: the store ends with a clean run's rows,
    each once."""
    pages = corpus.pages_df(spark, sf_dir).limit(40).cache()
    clean, root = str(tmp_path / "clean"), str(tmp_path / "store")
    materialize.materialize_resumable(pages, clean, chunks=2)
    _crash_after_commit(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="simulated crash"):
        materialize.materialize_resumable(pages, root, chunks=2)
    monkeypatch.undo()
    m = materialize.materialize_resumable(pages, root, chunks=2)
    assert _rows(spark, root) == _rows(spark, clean)
    assert m["ran"] == [1] and m["skipped"] == [0]


def test_materialize_resumable_refuses_changed_chunk_count(
        spark, sf_dir, tmp_path, monkeypatch):
    """A chunks=4 run that stopped after chunks 0 and 1 cannot resume
    as chunks=2: the new split's chunks hold pages already committed,
    so it must refuse instead of ingesting them twice."""
    pages = corpus.pages_df(spark, sf_dir).limit(40).cache()
    root = str(tmp_path / "store")
    _crash_after_commit(monkeypatch, 2)
    with pytest.raises(RuntimeError, match="simulated crash"):
        materialize.materialize_resumable(pages, root, chunks=4)
    monkeypatch.undo()
    with pytest.raises(ValueError, match="chunks=4"):
        materialize.materialize_resumable(pages, root, chunks=2)
    # the original split resumes where it stopped
    assert materialize.materialize_resumable(
        pages, root, chunks=4)["ran"] == [2, 3]


def test_expansion_spec_rules(spark):
    """Per-rule goldens from /root/reference/spec/expansion_spec.rb:88-135
    over the EXP vocabulary (expansion_spec.rb:3-8)."""
    from rdf_rdfa_spark.pipeline.expand import VOCAB_REGISTRY, entail

    EXPV = "http://example.org/vocab#"
    FOAF = "http://xmlns.com/foaf/0.1/"
    ME = "http://example/#me"
    tbox = spark.createDataFrame(VOCAB_REGISTRY[EXPV],
                                 "sub string, rel string, sup string")
    cases = {
        "prp-spo1": ([(ME, EXPV + "name", "Gregg Kellogg")],
                     [(ME, FOAF + "name", "Gregg Kellogg")]),
        "prp-eqp1": ([(ME, EXPV + "namee", "Gregg Kellogg")],
                     [(ME, FOAF + "name", "Gregg Kellogg")]),
        "prp-eqp2": ([(ME, FOAF + "name", "Gregg Kellogg")],
                     [(ME, EXPV + "namee", "Gregg Kellogg")]),
        "cax-sco": ([(ME, RDF_TYPE, EXPV + "Person")],
                    [(ME, RDF_TYPE, FOAF + "Person")]),
        "cax-eqc1": ([(ME, RDF_TYPE, EXPV + "Persone")],
                     [(ME, RDF_TYPE, FOAF + "Person")]),
        "cax-eqc2": ([(ME, RDF_TYPE, FOAF + "Person")],
                     [(ME, RDF_TYPE, EXPV + "Persone")]),
    }
    for name, (abox_rows, entailed) in cases.items():
        abox = spark.createDataFrame(abox_rows,
                                     "subj string, pred string, obj string")
        got = {tuple(r) for r in entail(abox, tbox).collect()}
        assert set(abox_rows) <= got, name
        for t in entailed:
            assert t in got, (name, sorted(got))


def test_vocab_expansion_end_to_end(spark):
    """Page declares @vocab → usesVocabulary triple → expand() joins
    the offline vocabulary T-box (reference reader option
    vocab_expansion: true, reader.rb:451)."""
    from rdf_rdfa_spark.pipeline.expand import expand

    html = ('<html><body><div about="http://example/#me" '
            'vocab="http://example.org/vocab#" typeof="Person">'
            '<span property="name">Gregg</span></div></body></html>')
    pages = spark.createDataFrame(
        [("http://x.example/", html.encode())], "url string, html binary")
    triples = extract_triples(pages)
    expanded = {(r["subj"], r["pred"], r["obj"])
                for r in expand(triples).collect()}
    FOAF = "http://xmlns.com/foaf/0.1/"
    assert ("http://example/#me", RDF_TYPE, FOAF + "Person") in expanded
    assert ("http://example/#me", FOAF + "name", "Gregg") in expanded


def test_writer_roundtrip(spark, sf_dir):
    """Serialize a graph to XHTML+RDFa and re-parse with our reader —
    the result must be identical (the reference's writer round-trip
    strategy, writer_spec.rb:546)."""
    from rdf_rdfa_spark.pipeline.extract import rows_for_document
    from rdf_rdfa_spark.writer import df_to_rdfa_html

    pages = corpus.pages_df(spark, sf_dir)
    triples = extract_triples(pages).filter(
        "url = 'http://host0.example.org/page/1'")
    html = df_to_rdfa_html(triples)
    reparsed = {
        (r[1], r[2], r[3], r[4], r[5] or None, r[6] or None)
        for r in rows_for_document(html, "http://roundtrip.example/",
                                   skolemize=False)
    }
    original = {
        (r["subj"], r["pred"], r["obj"], r["obj_kind"], r["lang"], r["datatype"])
        for r in triples.collect()
    }
    assert reparsed == original, (sorted(original - reparsed)[:3],
                                  sorted(reparsed - original)[:3])


def test_streaming_matches_batch(spark, sf_dir, tmp_path):
    """Stream ingest runs the same UDF and the store holds exactly the
    batch output (page files ingested over several commits)."""
    pages = corpus.pages_df(spark, sf_dir).limit(100).cache()
    in_dir = str(tmp_path / "pages_in")
    pages.repartition(4).write.parquet(in_dir)

    root, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    q = materialize.stream_materialize(spark, in_dir, root, ckpt,
                                       max_files_per_trigger=2)
    q.awaitTermination(120)

    # the store names the extractor's NULL default graph "output"
    want_df = extract_triples(spark.read.parquet(in_dir)).withColumn(
        "graph", F.coalesce("graph", F.lit("output")))
    want = {tuple(r) for r in want_df.collect()}
    got = {tuple(r) for r in materialize.read_triples(spark, root)
           .select(*want_df.columns).collect()}
    assert got == want and len(got) > 0

    # resume: a second run ingests nothing new
    q2 = materialize.stream_materialize(spark, in_dir, root, ckpt)
    q2.awaitTermination(120)
    assert materialize.read_triples(spark, root).count() == len(got)


def test_canonical_iri_col(spark):
    from rdf_rdfa_spark.pipeline.link import canonical_iri_col

    cases = [
        ("HTTP://Example.COM/Path?Q=1", "http://example.com/Path?Q=1"),
        ("https://example.com:443/x", "https://example.com/x"),
        ("http://example.com:80", "http://example.com/"),
        ("http://example.com:8080/x", "http://example.com:8080/x"),
        ("http://example.com", "http://example.com/"),
        ("_:b0", "_:b0"),
        ("urn:ex:s001", "urn:ex:s001"),
    ]
    df = spark.createDataFrame([(a,) for a, _ in cases], "iri string")
    got = [r["c"] for r in
           df.select(canonical_iri_col(F.col("iri")).alias("c")).collect()]
    assert got == [b for _, b in cases], got


def test_subject_lookup_prunes(spark, sf_dir, tmp_path):
    from rdf_rdfa_spark.pipeline.materialize import (
        materialize_resumable, subject_lookup)

    pages = corpus.pages_df(spark, sf_dir).limit(80)
    root = str(tmp_path / "store2")
    materialize_resumable(pages, root, chunks=2, buckets=8)
    from rdf_rdfa_spark.pipeline.materialize import read_triples

    target = read_triples(spark, root).select("subj").first()["subj"]
    got = subject_lookup(spark, root, target)
    rows = got.collect()
    assert rows and all(r["subj"] == target for r in rows)
    # the physical plan must show a partition filter on bucket
    plan = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted") if False else \
        got._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan


def test_writer_curie_compression():
    """Writer mints CURIEs from the initial-context prefixes, declares
    only used prefixes in @prefix, folds rdf:type into @typeof, and
    emits bnodes as SafeCURIEs — all round-trip through our reader
    (writer.rb:366-390 preprocess, :273-283 typeof, writer_spec.rb:546)."""
    from rdf_rdfa_spark.rdfa.walk import parse_rdfa
    from rdf_rdfa_spark.writer import to_rdfa_html

    FOAF = "http://xmlns.com/foaf/0.1/"
    rows = [
        ("http://example.org/a",
         "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         FOAF + "Person", "iri", None, None),
        ("http://example.org/a", FOAF + "name", "Alice", "literal", None, None),
        ("http://example.org/a", "http://purl.org/dc/terms/created",
         "2020-01-01", "literal", None,
         "http://www.w3.org/2001/XMLSchema#date"),
        ("http://example.org/a", FOAF + "knows", "_:b0", "bnode", None, None),
        ("_:b0", FOAF + "name", "Bob", "literal", "en", None),
    ]
    html = to_rdfa_html(rows)
    assert 'typeof="foaf:Person"' in html
    assert 'property="foaf:name"' in html
    assert 'datatype="xsd:date"' in html
    assert 'resource="[_:b0]"' in html
    # only used prefixes declared
    assert "foaf: http://xmlns.com/foaf/0.1/" in html
    assert "schema:" not in html

    out, _, _ = parse_rdfa(html.encode(), url="http://example.org/doc")
    got, want = set(), set()
    for (sk, sv), (_pk, pv), o in out:
        s = "BN" if sk == "bnode" else sv
        if o[0] == "literal":
            got.add((s, pv, o[1], "literal", o[2], o[3]))
        else:
            got.add((s, pv, "BN" if o[0] == "bnode" else o[1],
                     o[0], None, None))
    for s, p, o, k, lang, dt in rows:
        want.add(("BN" if s.startswith("_:") else s, p,
                  "BN" if k == "bnode" else o, k, lang, dt))
    assert got == want, (sorted(want - got), sorted(got - want))


def test_register_vocabulary_end_to_end(spark):
    """A user-registered vocabulary (Turtle source) drives distributed
    expansion, mirroring the reference's vocab_repository option."""
    from rdf_rdfa_spark.pipeline.expand import RDFA_USESVOCABULARY, expand
    from rdf_rdfa_spark.rdfa.vocab import VOCAB_REGISTRY, register_vocabulary

    url = "http://vocab.test/reg#"
    n = register_vocabulary(url, """
        @prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
        @prefix v: <http://vocab.test/reg#> .
        @prefix up: <http://upstream.example/> .
        v:localName rdfs:subPropertyOf up:name .
        v:Thing rdfs:subClassOf up:Entity .
        v:ignored v:notAnAxiom v:alsoIgnored .
    """)
    try:
        assert n == 2
        triples = spark.createDataFrame(
            [("http://d/1", RDFA_USESVOCABULARY, url),
             ("http://d/1", url + "localName", "X"),
             ("http://d/1", RDF_TYPE, url + "Thing")],
            "subj string, pred string, obj string")
        got = {(r["subj"], r["pred"], r["obj"])
               for r in expand(triples).collect()}
        assert ("http://d/1", "http://upstream.example/name", "X") in got
        assert ("http://d/1", RDF_TYPE,
                "http://upstream.example/Entity") in got
    finally:
        VOCAB_REGISTRY.pop(url, None)


def test_snapshot_time_travel(spark, sf_dir, tmp_path):
    """Each committed chunk is an Iceberg-style snapshot: reading at
    snapshot k scans only the files manifests v1..vk added, and the
    latest read equals the plain store read."""
    pages = corpus.pages_df(spark, sf_dir).limit(40).cache()
    root = str(tmp_path / "store")
    materialize.materialize_resumable(pages, root, chunks=3)
    assert materialize.current_snapshot(root) == 3
    total = materialize.read_triples(spark, root).count()
    counts = [materialize.read_triples(spark, root, snapshot=k).count()
              for k in (1, 2, 3)]
    assert counts[0] > 0 and counts == sorted(counts)
    assert counts[2] == total
    # snapshot reads keep the partition columns for pruning
    cols = materialize.read_triples(spark, root, snapshot=1).columns
    assert "graph" in cols and "bucket" in cols
    # snapshot 2 must equal chunks 0+1's lineage triple counts
    lin = materialize.lineage_summary(root)
    by_chunk = {c["chunk"]: c["triples"] for c in lin["chunks"]}
    assert counts[1] == by_chunk[0] + by_chunk[1]


def test_stream_materialize_and_compact(spark, sf_dir, tmp_path):
    """Micro-batch ingestion commits per-batch snapshots into the same
    store layout; compaction rewrites small files under a `compact`
    snapshot and both plain and snapshot reads stay consistent."""
    pages = corpus.pages_df(spark, sf_dir).limit(30).cache()
    in_dir, root = str(tmp_path / "in"), str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    pages.repartition(4).write.parquet(in_dir)
    q = materialize.stream_materialize(
        spark, in_dir, root, ckpt, max_files_per_trigger=2)
    q.awaitTermination()
    n_snaps = materialize.current_snapshot(root)
    assert n_snaps >= 2            # several micro-batches committed
    total = materialize.read_triples(spark, root).count()
    # each commit counts its pages and triples from its one write
    stats = [materialize._manifest(root, n)["stats"]
             for n in range(1, n_snaps + 1)]
    assert all("pages" in st and "triples" in st for st in stats)
    assert sum(st["pages"] for st in stats) == 30
    assert sum(st["triples"] for st in stats) == total
    assert materialize.read_triples(spark, root, snapshot=n_snaps).count() == total
    assert 0 < materialize.read_triples(spark, root, snapshot=1).count() < total

    pre = set(materialize._manifest(root)["files"])
    res = materialize.compact_store(spark, root)
    assert res["rewritten_partitions"]
    # the compact commit records the rows it rewrote
    compact = materialize._manifest(root, res["snapshot"])
    rewritten = spark.read.parquet(*[
        os.path.join(root, "triples", f)
        for f in set(compact["files"]) - pre]).count()
    assert compact["stats"]["triples"] == rewritten > 0
    # plain read, latest-snapshot read, and row content all survive
    assert materialize.read_triples(spark, root).count() == total
    assert materialize.read_triples(
        spark, root, snapshot=res["snapshot"]).count() == total
    # every live partition now holds at most one data file
    from rdf_rdfa_spark.pipeline.materialize import _store_files
    per_part = {}
    for rel in _store_files(root + "/triples"):
        per_part[os.path.dirname(rel)] = per_part.get(os.path.dirname(rel), 0) + 1
    assert max(per_part.values()) == 1


def test_bgp_select_semantics(spark):
    from rdf_rdfa_spark.pipeline.bgpq import bgp_select, var

    rows = [
        ("a", "type", "Art"), ("a", "same", "m1"), ("a", "genre", "g1"),
        ("b", "type", "Art"), ("b", "genre", "g2"),
        ("c", "same", "m3"), ("c", "genre", "g3"),
        ("a", "loop", "a"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {tuple(r) for r in bgp_select(t, [
        (var("d"), "type", "Art"),
        (var("d"), "same", var("m")),
    ]).collect()}
    assert got == {("a", "m1")}
    # same variable in two positions of one pattern → equality filter
    loops = {r["x"] for r in bgp_select(
        t, [(var("x"), "loop", var("x"))]).collect()}
    assert loops == {"a"}
    # select projection
    only_d = {r["d"] for r in bgp_select(t, [
        (var("d"), "genre", var("g"))], select=["d"]).collect()}
    assert only_d == {"a", "b", "c"}


def test_bgp_filter_and_optional(spark):
    from rdf_rdfa_spark.pipeline.bgpq import bgp_select, var

    rows = [
        ("a", "type", "Art"), ("a", "score", "9"),
        ("b", "type", "Art"), ("b", "score", "3"),
        ("c", "type", "Art"),
        ("a", "label", "AA"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    # FILTER over a bound variable
    got = {r["d"] for r in bgp_select(
        t, [(var("d"), "type", "Art"), (var("d"), "score", var("s"))],
        filters=["s > '5'"]).collect()}
    assert got == {"a"}
    # OPTIONAL keeps non-matching solutions with NULLs
    rows2 = {(r["d"], r["s"]) for r in bgp_select(
        t, [(var("d"), "type", "Art")],
        optional=[[(var("d"), "score", var("s"))]]).collect()}
    assert rows2 == {("a", "9"), ("b", "3"), ("c", None)}
    # two OPTIONAL groups compose independently
    rows3 = {(r["d"], r["s"], r["l"]) for r in bgp_select(
        t, [(var("d"), "type", "Art")],
        optional=[[(var("d"), "score", var("s"))],
                  [(var("d"), "label", var("l"))]]).collect()}
    assert rows3 == {("a", "9", "AA"), ("b", "3", None), ("c", None, None)}


def test_bgp_union(spark):
    from rdf_rdfa_spark.pipeline.bgpq import bgp_select, bgp_union, var

    rows = [("a", "type", "Art"), ("b", "type", "Book"),
            ("c", "type", "Art"), ("a", "type", "Book")]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {r["d"] for r in bgp_union(t, [
        [(var("d"), "type", "Art")],
        [(var("d"), "type", "Book")],
    ]).collect()}
    assert got == {"a", "b", "c"}


def test_lsh_bucket_cap_applied_before_collect(spark):
    """A mega-bucket (40 identical docs → every band key shared) must
    be dropped by the skew guard BEFORE collect_list ever sees it: the
    plan carries a WINDOW count + filter BELOW the collect_list
    aggregate (WindowExec buffers a group in a spillable sorter, never
    a single-group agg buffer), and the window preserves the
    (band, key) partitioning so guard + collect share ONE exchange
    (pairs-distinct adds the only other one)."""
    tmpl = " ".join("word%02d" % i for i in range(30))
    docs = spark.createDataFrame([(i, tmpl) for i in range(40)],
                                 "doc_id long, text string")
    sigs = canonicalize.minhash_signatures(docs)
    capped = canonicalize.lsh_candidate_pairs(sigs, max_bucket=8, num_hashes=64)
    assert capped.count() == 0          # hot bucket (40 > 8) dropped
    uncapped = canonicalize.lsh_candidate_pairs(sigs, max_bucket=1 << 40,
                                                num_hashes=64)
    assert uncapped.count() == 40 * 39 // 2
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "Window [count(1)" in plan, plan
    # physical plans print root-first: the guard window must be BELOW
    # (printed after) the collect aggregate
    assert plan.index("Window [count(1)") > plan.index("collect_list"), plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_bgp_negation_and_modifiers(spark):
    from rdf_rdfa_spark.pipeline.bgpq import bgp_ask, bgp_select, var

    triples = spark.createDataFrame(
        [("a", "type", "Doc"), ("b", "type", "Doc"), ("c", "type", "Doc"),
         ("a", "label", "A"), ("b", "label", "B"), ("c", "label", "C"),
         ("a", "mirror", "m1"), ("x", "other", "y")],
        "subj string, pred string, obj string")
    base = [(var("d"), "type", "Doc"), (var("d"), "label", var("l"))]
    # MINUS: docs WITHOUT a mirror (the "which subjects have NO label"
    # class of question)
    got = {r["d"] for r in bgp_select(
        triples, base,
        minus=[[(var("d"), "mirror", var("m"))]]).collect()}
    assert got == {"b", "c"}
    # MINUS with a disjoint group removes nothing (SPARQL spec)...
    assert bgp_select(
        triples, base,
        minus=[[(var("z"), "other", var("w"))]]).count() == 3
    # ...while NOT EXISTS with a disjoint matching group removes all
    assert bgp_select(
        triples, base,
        not_exists=[[(var("z"), "other", var("w"))]]).count() == 0
    assert bgp_select(
        triples, base,
        not_exists=[[(var("d"), "mirror", var("m"))]]).count() == 2
    # ORDER BY + LIMIT compile to TakeOrderedAndProject (top-k merge,
    # no global sort of the solution set)
    top = bgp_select(triples, base, order_by=["d"], limit=2)
    assert [r["d"] for r in top.collect()] == ["a", "b"]
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    # ASK
    assert bgp_ask(triples, [(var("d"), "mirror", var("m"))])
    assert not bgp_ask(triples, [(var("d"), "nope", var("m"))])


def test_bgp_optional_rejects_optional_only_shared_vars(spark):
    """A later OPTIONAL sharing a variable bound only by an earlier
    OPTIONAL must raise: NULL join keys silently diverge from SPARQL's
    unbound-is-compatible semantics."""
    import pytest as _pytest
    from rdf_rdfa_spark.pipeline.bgpq import bgp_select, var

    triples = spark.createDataFrame(
        [("a", "type", "Doc"), ("a", "mirror", "m1"), ("m1", "label", "L")],
        "subj string, pred string, obj string")
    with _pytest.raises(ValueError, match="earlier OPTIONAL"):
        bgp_select(
            triples, [(var("d"), "type", "Doc")],
            optional=[[(var("d"), "mirror", var("m"))],
                      [(var("m"), "label", var("ml"))]])


def test_stream_materialize_reconciles_orphan_files(spark, sf_dir, tmp_path):
    """Files a crashed commit left (on disk, in no manifest) must be
    swept by the next commit, so plain reads and snapshot reads agree
    afterwards."""
    import glob
    import shutil

    root = str(tmp_path / "store")
    inp = str(tmp_path / "in")
    os.makedirs(inp)
    pages = corpus.pages_df(spark, sf_dir).limit(40)
    pages.write.parquet(os.path.join(inp, "batch0"))
    q = materialize.stream_materialize(
        spark, inp + "/*", root, str(tmp_path / "ckpt"))
    q.awaitTermination()
    tracked = materialize.read_triples(spark, root).count()
    # simulate a crashed attempt: copy a data file to an untracked name
    some = glob.glob(os.path.join(root, "triples", "graph=*", "bucket=*",
                                  "*.parquet"))[0]
    orphan = os.path.join(os.path.dirname(some), "part-orphan.c000.parquet")
    shutil.copyfile(some, orphan)
    # no manifest lists the orphan, so no read sees it
    assert materialize.read_triples(spark, root).count() == tracked
    # the next commit reconciles before appending
    pages.write.parquet(os.path.join(inp, "batch1"))
    q2 = materialize.stream_materialize(
        spark, inp + "/*", root, str(tmp_path / "ckpt"))
    q2.awaitTermination()
    assert not os.path.exists(orphan)
    plain = materialize.read_triples(spark, root).count()
    snap = materialize.read_triples(
        spark, root, snapshot=materialize.current_snapshot(root)).count()
    assert plain == snap == 2 * tracked


def test_crash_while_writing_head_keeps_previous_snapshot(
        spark, sf_dir, tmp_path, monkeypatch):
    """A commit that dies after HEAD is opened for writing (the file
    truncated, then the process gone) must leave the previous snapshot
    current: it still reads in full, and the next stream batch keeps
    every committed row."""
    root, inp = str(tmp_path / "store"), str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    pages = corpus.pages_df(spark, sf_dir).limit(40)
    pages.write.parquet(os.path.join(inp, "batch0"))
    materialize.stream_materialize(spark, inp + "/*", root,
                                   ckpt).awaitTermination()
    committed = sorted(tuple(r) for r in
                       materialize.read_triples(spark, root).collect())
    assert committed

    real_open = open

    def crashing_open(path, mode="r", *a, **kw):
        if "w" in mode and os.path.basename(path).startswith("HEAD"):
            real_open(path, mode, *a, **kw).close()
            raise OSError("simulated crash while writing HEAD")
        return real_open(path, mode, *a, **kw)

    monkeypatch.setattr(materialize, "open", crashing_open, raising=False)
    more = corpus.pages_df(spark, sf_dir).limit(80)
    with pytest.raises(OSError, match="simulated crash"):
        materialize.materialize_resumable(more, root, chunks=1)
    monkeypatch.undo()

    assert sorted(tuple(r) for r in
                  materialize.read_triples(spark, root).collect()) == committed
    # batch1 repeats batch0's pages: the store ends with both copies,
    # and nothing of the crashed commit
    pages.write.parquet(os.path.join(inp, "batch1"))
    materialize.stream_materialize(spark, inp + "/*", root,
                                   ckpt).awaitTermination()
    assert materialize.read_triples(spark, root).count() == 2 * len(committed)


def test_stream_materialize_crash_after_commit(
        spark, sf_dir, tmp_path, monkeypatch):
    """A stream run that dies right after its first commit must not
    ingest that commit's files again when re-run with the same
    arguments: the store ends with a clean run's rows, each once."""
    pages = corpus.pages_df(spark, sf_dir).limit(40).cache()
    in_dir = str(tmp_path / "in")
    pages.repartition(4).write.parquet(in_dir)
    clean, root = str(tmp_path / "clean"), str(tmp_path / "store")
    materialize.stream_materialize(
        spark, in_dir, clean, str(tmp_path / "ckpt-clean"),
        max_files_per_trigger=2).awaitTermination()
    args = (spark, in_dir, root, str(tmp_path / "ckpt"))
    _crash_after_commit(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="simulated crash"):
        materialize.stream_materialize(
            *args, max_files_per_trigger=2).awaitTermination()
    monkeypatch.undo()
    materialize.stream_materialize(
        *args, max_files_per_trigger=2).awaitTermination()
    assert _rows(spark, root) == _rows(spark, clean)


def test_stream_materialize_has_no_continuous_mode(spark, tmp_path):
    with pytest.raises(ValueError, match="continuous"):
        materialize.stream_materialize(spark, str(tmp_path), str(tmp_path),
                                       None, available_now=False)


def test_read_during_commit_sees_previous_snapshot(
        spark, sf_dir, tmp_path, monkeypatch):
    """Between the parquet write and the HEAD swap the new files are on
    disk but uncommitted: a read then returns the old snapshot."""
    root = str(tmp_path / "store")
    materialize.materialize_resumable(
        corpus.pages_df(spark, sf_dir).limit(40), root, chunks=1)
    old = materialize.read_triples(spark, root).count()
    extra = spark.createDataFrame(
        [("u", "http://x/s%d" % i, "http://x/p", "o", "literal", None, None,
          None) for i in range(20)],
        "url string, subj string, pred string, obj string, "
        "obj_kind string, lang string, datatype string, graph string")
    seen = []
    real_replace = os.replace

    def replace(src, dst):
        if os.path.basename(dst) == "HEAD":
            seen.append(materialize.read_triples(spark, root).count())
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    materialize.write_triples(extra, root)
    monkeypatch.undo()
    assert seen == [old]
    assert materialize.read_triples(spark, root).count() == old + 20


def test_read_triples_memo_under_threads(spark, tmp_path):
    """Concurrent reads of more roots than the memo keeps: every read
    returns its own root's live files, and none raises."""
    import shutil
    import sys
    from concurrent.futures import ThreadPoolExecutor

    t = spark.createDataFrame(
        [("u", "http://x/s%d" % i, "p", "o", "literal", None, None, None)
         for i in range(8)],
        "url string, subj string, pred string, obj string, "
        "obj_kind string, lang string, datatype string, graph string")
    roots = [str(tmp_path / "s0")]
    materialize.write_triples(t, roots[0], buckets=4)
    for k in range(1, 2 * materialize._READS_MAX):
        roots.append(str(tmp_path / ("s%d" % k)))
        shutil.copytree(roots[0], roots[-1])
    want = {os.path.basename(f) for f in
            materialize._manifest(roots[0])["files"]}

    def read(root):
        files = materialize.read_triples(spark, root).inputFiles()
        return (all(root in f for f in files)
                and {os.path.basename(f) for f in files} == want)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            ok = list(pool.map(read, roots * 3, timeout=300))
    finally:
        sys.setswitchinterval(old)
    assert ok == [True] * len(roots) * 3


def test_subject_lookup_uses_store_modulus(spark, sf_dir, tmp_path):
    """subject_lookup hashes with the modulus the store was written
    with, not a caller-supplied default."""
    root = str(tmp_path / "store")
    materialize.materialize_resumable(
        corpus.pages_df(spark, sf_dir).limit(40), root, chunks=1, buckets=8)
    subjects = [r["subj"] for r in materialize.read_triples(spark, root)
                .select("subj").distinct().limit(5).collect()]
    assert len(subjects) == 5
    for subj in subjects:
        rows = materialize.subject_lookup(spark, root, subj).collect()
        assert rows and all(r["subj"] == subj for r in rows), subj


def test_precompaction_snapshot_read_is_partial(spark, sf_dir, tmp_path):
    """After compaction expires replaced files, reading an OLD snapshot
    returns the still-existing subset (documented partial time travel,
    like Iceberg after expire_snapshots) instead of failing at scan."""
    root = str(tmp_path / "store")
    pages = corpus.pages_df(spark, sf_dir).limit(40)
    materialize.materialize_resumable(pages, root, chunks=2)
    pre = materialize.current_snapshot(root)
    full = materialize.read_triples(spark, root, snapshot=pre).count()
    materialize.compact_store(spark, root)
    # the old snapshot still reads (possibly partial), never raises
    partial = materialize.read_triples(spark, root, snapshot=pre).count()
    assert 0 <= partial <= full
    # the compacted head sees everything
    head = materialize.current_snapshot(root)
    assert materialize.read_triples(spark, root, snapshot=head).count() == full


def test_bgp_property_paths(spark):
    from rdf_rdfa_spark.pipeline.bgpq import (
        alt, bgp_select, inv, one_or_more, seq, var, zero_or_more,
        zero_or_one)

    triples = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d"),
         ("a", "q", "x"), ("x", "r", "y")],
        "subj string, pred string, obj string")

    def pairs(path, **kw):
        return {(r["x"], r["y"]) for r in bgp_select(
            triples, [(var("x"), path, var("y"))], **kw).collect()}

    # p+ transitive closure
    assert pairs(one_or_more("p")) == {
        ("a", "b"), ("b", "c"), ("c", "d"),
        ("a", "c"), ("b", "d"), ("a", "d")}
    # p* adds the zero-length identity over every graph node
    star = pairs(zero_or_more("p"))
    for n in ("a", "b", "c", "d", "x", "y", "q"):
        if n in ("q",):
            continue
        assert (n, n) in star
    assert ("a", "d") in star
    # seq: q/r
    assert pairs(seq("q", "r")) == {("a", "y")}
    # alt: p|q from a
    assert ("a", "b") in pairs(alt("p", "q")) and (
        "a", "x") in pairs(alt("p", "q"))
    # inverse
    assert pairs(inv("p")) == {("b", "a"), ("c", "b"), ("d", "c")}
    # zero_or_one
    zoo = pairs(zero_or_one("q"))
    assert ("a", "x") in zoo and ("b", "b") in zoo
    # constant endpoint + closure: everything reachable from a via p+
    got = {r["y"] for r in bgp_select(
        triples, [("a", one_or_more("p"), var("y"))]).collect()}
    assert got == {"b", "c", "d"}


def test_bgp_aggregate(spark):
    from rdf_rdfa_spark.pipeline.bgpq import bgp_aggregate, var

    triples = spark.createDataFrame(
        [("a", "type", "Doc"), ("b", "type", "Doc"), ("c", "type", "Doc"),
         ("a", "genre", "news"), ("b", "genre", "news"),
         ("c", "genre", "blog"),
         ("a", "genre", "news")],  # duplicate triple: set semantics
        "subj string, pred string, obj string")
    got = {r["g"]: r["n"] for r in bgp_aggregate(
        triples,
        [(var("d"), "type", "Doc"), (var("d"), "genre", var("g"))],
        group_by=["g"], aggs={"n": F.count("*")}).collect()}
    assert got == {"news": 2, "blog": 1}


def test_bgp_values_and_bind(spark):
    from rdf_rdfa_spark.pipeline.bgpq import bgp_select, var

    triples = spark.createDataFrame(
        [("a", "type", "Doc"), ("b", "type", "Doc"), ("c", "type", "Doc"),
         ("a", "label", "Apple"), ("b", "label", "Pear"),
         ("c", "label", "Fig")],
        "subj string, pred string, obj string")
    base = [(var("d"), "type", "Doc"), (var("d"), "label", var("l"))]
    # VALUES: restrict d to an inline binding table
    got = {r["d"] for r in bgp_select(
        triples, base, values=(["d"], [("a",), ("c",)])).collect()}
    assert got == {"a", "c"}
    # BIND: computed variable usable by FILTER
    rows = bgp_select(
        triples, base,
        bind={"l_len": F.length("l")},
        filters=[F.col("l_len") >= 4]).collect()
    assert {(r["d"], r["l_len"]) for r in rows} == {("a", 5), ("b", 4)}
    # disjoint VALUES raises
    import pytest as _pytest
    with _pytest.raises(ValueError, match="VALUES"):
        bgp_select(triples, base, values=(["zz"], [("x",)]))


def test_processor_date_opt_in():
    """Full reference parity for the processor graph's dc:date triple
    (reader.rb:539) with a caller-supplied deterministic date; absent
    by default (the documented deviation)."""
    from rdf_rdfa_spark.rdfa.walk import parse_rdfa

    html = (b'<html><body><span about="[undef:x]" property="dc:title">'
            b'T</span></body></html>')
    out, proc, _ = parse_rdfa(html, url="http://x/", rdfagraph="all",
                              processor_date="2026-08-17")
    dates = [t for t in proc if t[1][1].endswith("dc/terms/date")]
    assert dates and dates[0][2] == (
        "literal", "2026-08-17", None,
        "http://www.w3.org/2001/XMLSchema#date")
    out2, proc2, _ = parse_rdfa(html, url="http://x/", rdfagraph="all")
    assert not [t for t in proc2 if t[1][1].endswith("dc/terms/date")]
    assert out == out2   # the output graph is unaffected by the option


def test_bgp_construct(spark):
    from rdf_rdfa_spark.pipeline.bgpq import bgp_construct, var

    triples = spark.createDataFrame(
        [("a", "type", "Doc"), ("a", "mirror", "m1"),
         ("b", "type", "Doc")],
        "subj string, pred string, obj string")
    got = {tuple(r) for r in bgp_construct(
        triples,
        [(var("d"), "type", "Doc")],
        [(var("d"), "kind", "document"),
         (var("d"), "seen", var("d"))],
        optional=[[(var("d"), "mirror", var("m"))]],
    ).collect()}
    assert ("a", "kind", "document") in got
    assert ("b", "seen", "b") in got
    assert len(got) == 4
    # unbound OPTIONAL var in the template → that row dropped, per SPARQL
    got2 = {tuple(r) for r in bgp_construct(
        triples, [(var("d"), "type", "Doc")],
        [(var("d"), "sameAs", var("m"))],
        optional=[[(var("d"), "mirror", var("m"))]]).collect()}
    assert got2 == {("a", "sameAs", "m1")}


def test_path_closure_matches_python_reference(spark):
    """Iterative-doubling closure vs a pure-Python Warshall reference
    on pseudo-random graphs (fixed seeds — deterministic)."""
    import random

    from rdf_rdfa_spark.pipeline.bgpq import one_or_more, path_edges

    for seed in (3, 17, 99):
        rnd = random.Random(seed)
        nodes = ["n%d" % i for i in range(14)]
        edges = {(rnd.choice(nodes), rnd.choice(nodes))
                 for _ in range(25)}
        triples = spark.createDataFrame(
            [(s, "p", o) for s, o in edges],
            "subj string, pred string, obj string")
        got = {(r["s"], r["o"]) for r in path_edges(
            triples, one_or_more("p")).collect()}
        want = set(edges)
        grew = True
        while grew:
            grew = False
            for (a, b) in list(want):
                for (c, d) in list(want):
                    if b == c and (a, d) not in want:
                        want.add((a, d))
                        grew = True
        assert got == want, seed


def test_sparql_bucket_pruning_on_store(spark, sf_dir, tmp_path):
    """Constant-subject SPARQL over the materialized store prunes to
    ONE bucket partition directory: the partition filter on `bucket`
    reaches the scan, exactly like materialize.subject_lookup — a
    point lookup on a 100 TB store reads 1/buckets of it."""
    from rdf_rdfa_spark.pipeline import materialize
    from rdf_rdfa_spark.pipeline.sparql import sparql

    root = str(tmp_path / "store")
    pages = corpus.pages_df(spark, sf_dir)
    materialize.materialize_resumable(pages, root, chunks=2, buckets=16)
    assert materialize.store_buckets(root) == 16
    store = materialize.read_triples(spark, root)
    subj = store.select("subj").first()["subj"]
    q = 'SELECT ?p ?o WHERE { <%s> ?p ?o }' % subj
    pruned = sparql(store, q, buckets=16)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split(
        "PartitionFilters", 1)[1][:200], plan
    # same answers as the unpruned query
    a = {tuple(r) for r in pruned.collect()}
    b = {tuple(r) for r in sparql(store, q).collect()}
    assert a == b and a
    # and agrees with the dedicated point-lookup helper
    c = {(r["pred"], r["obj"]) for r in materialize.subject_lookup(
        spark, root, subj).select("pred", "obj").collect()}
    assert a == c

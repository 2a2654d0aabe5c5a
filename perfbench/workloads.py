"""The three workloads.  Each mirrors a path ``scripts/run_pipeline.py``
runs, calling the same public library functions in the same order:

* ``ingest``  ``--input-warc --compact``: read_warc_pages →
  materialize_resumable → compact_store into a fresh store;
* ``refine``  ``--link --expand --export-pages`` over the setup store:
  read_triples → link_entities → expand → parquet, then
  export_rdfa_pages → parquet;
* ``serve``   ``--sparql`` over the setup store, as a closed loop of
  ``SERVE_CLIENTS`` client threads, plus ``stream_materialize``
  (availableNow) appends of held-out page batches every
  ``APPEND_EVERY``-th operation.

With tracing on, every layer call runs under its own span and Spark job
group, and barriers (cache + count, or a ``noop`` sink) separate the
layers so lazy plans are attributed to the layer that built them.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
from tracing import RssSampler, SparkStatus, median, quantile

from rdf_rdfa_spark.pipeline import materialize
from rdf_rdfa_spark.pipeline.expand import expand
from rdf_rdfa_spark.pipeline.export import export_rdfa_pages
from rdf_rdfa_spark.pipeline.link import link_entities, sameas_clusters
from rdf_rdfa_spark.pipeline.sparql import sparql
from rdf_rdfa_spark.sources import read_warc_pages

CHUNKS = 4           # run_pipeline.py --chunks 4
BUCKETS = 64         # run_pipeline.py's --buckets default
SETUP_CHUNKS = 1     # the setup store's layout is the same after compaction
SERVE_CLIENTS = 2
APPEND_EVERY = 20
# one cycle of the serve mix: 60% lookups, 20% joins, 10% reverse
# lookups, 5% property paths, 5% aggregates.  The order is fixed and
# spreads the heavier templates, so a window that ends mid-cycle holds
# the same operations whatever the seed.
MIX = ("lookup", "join_star", "lookup", "reverse", "lookup", "join_chain",
       "lookup", "path", "lookup", "lookup", "join_star", "lookup",
       "reverse", "lookup", "join_chain", "lookup", "agg", "lookup",
       "lookup", "lookup")
KNOWS = gen.VOCAB + "knows"
QUERIES = {
    "lookup": "SELECT ?p ?o WHERE { <%s> ?p ?o }",
    "join_star": "SELECT ?t ?f WHERE { <%%s> a ?t . <%%s> <%s> ?f }" % KNOWS,
    "join_chain": "SELECT ?f ?t WHERE { <%%s> <%s> ?f . ?f a ?t }" % KNOWS,
    "reverse": "SELECT ?s WHERE { ?s <%s> <%%s> }" % KNOWS,
    "path": "SELECT ?g WHERE { <%%s> <%s>/<%s> ?g }" % (KNOWS, KNOWS),
    "agg": "SELECT ?t (COUNT(?s) AS ?c) WHERE { ?s a ?t } GROUP BY ?t",
}


class Context:
    def __init__(self, spark, spans, corpus, work: str, trace: bool):
        self.spark, self.spans, self.corpus = spark, spans, corpus
        self.sc = spark.sparkContext
        self.work, self.trace = work, trace
        self.layer: dict = {}
        self.warc_dir = os.path.join(work, "warc")

    def write_warcs(self):
        os.makedirs(self.warc_dir, exist_ok=True)
        for name, data in self.corpus.warc_files.items():
            with open(os.path.join(self.warc_dir, name), "wb") as fh:
                fh.write(data)

    @property
    def warc_glob(self) -> str:
        return os.path.join(self.warc_dir, "*.warc.gz")


def _unlink(path: str):
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


def remove_tree(path: str):
    """``shutil.rmtree``, with the files unlinked from several threads:
    on a busy disk an unlink can wait for milliseconds, and the waits
    then overlap."""
    files = [os.path.join(d, f) for d, _s, fs in os.walk(path) for f in fs]
    with ThreadPoolExecutor(8) as pool:
        list(pool.map(_unlink, files))
    shutil.rmtree(path, ignore_errors=True)


def _store_files(root: str) -> list:
    out = []
    for dirpath, _d, names in os.walk(os.path.join(root, "triples")):
        out += [os.path.join(dirpath, n) for n in names if n.endswith(".parquet")]
    return out


def _local(uri: str) -> str:
    """Spark file URI -> local path (DuckDB reads the same files)."""
    from urllib.parse import unquote

    if not uri.startswith("file:"):
        return uri
    return "/" + unquote(uri[len("file:"):]).lstrip("/")


def build_store(ctx: Context, root: str, chunks: int = SETUP_CHUNKS,
                glob: str | None = None):
    pages = read_warc_pages(ctx.spark, glob or ctx.warc_glob)
    materialize.materialize_resumable(pages, root, chunks=chunks, buckets=BUCKETS)
    materialize.compact_store(ctx.spark, root)


# --- ingest --------------------------------------------------------------

def ingest_setup(ctx: Context):
    ctx.write_warcs()


def ingest_warm(ctx: Context):
    """Two full ingest jobs: in a fresh session each of the first three
    jobs is faster than the one before it (JIT, Python workers), the
    ones after them run at about the speed of the third."""
    for k in range(2):
        root = os.path.join(ctx.work, "warm-%d" % k)
        _ingest_job(ctx, root)
        remove_tree(root)


def _ingest_job(ctx: Context, root: str) -> float:
    sp = ctx.spans
    t0 = time.perf_counter()
    with sp.span("ingest"):
        with sp.span("materialize"):
            pages = read_warc_pages(ctx.spark, ctx.warc_glob)
            materialize.materialize_resumable(pages, root, chunks=CHUNKS,
                                              buckets=BUCKETS)
        if ctx.trace:
            files = _store_files(root)
            ctx.layer["materialize.files_written"] = float(len(files))
            ctx.layer["materialize.mb_written"] = sum(
                os.path.getsize(f) for f in files) / 1e6
        with sp.span("compact"):
            materialize.compact_store(ctx.spark, root)
    return time.perf_counter() - t0


def _ingest_layers(ctx: Context):
    """Traced-only barrier runs: decode alone, then extract alone over
    the cached pages, so each layer's work is attributed to it."""
    from rdf_rdfa_spark.pipeline.extract import extract_triples

    sp = ctx.spans
    with sp.span("sources"):
        pages = read_warc_pages(ctx.spark, ctx.warc_glob).cache()
        n = pages.count()
    with sp.span("extract"):
        extract_triples(pages).write.format("noop").mode("overwrite").save()
    pages.unpersist()
    return n


def _parse_sample(ctx: Context, n: int = 120):
    """Single-process driver calls of the parser on a seeded sample."""
    from rdf_rdfa_spark.rdfa.dom import decode_html, parse_html
    from rdf_rdfa_spark.rdfa.walk import parse_rdfa

    rng = random.Random(ctx.corpus.seed)
    sample = rng.sample(ctx.corpus.pages, min(n, len(ctx.corpus.pages)))
    t0 = time.perf_counter()
    for p in sample:
        parse_html(decode_html(p.html))
    t1 = time.perf_counter()
    for p in sample:
        parse_rdfa(p.html, url=p.url)
    t2 = time.perf_counter()
    mb = sum(len(p.html) for p in sample) / 1e6
    ctx.layer["rdfa.dom.parse_html_ms_per_page"] = (t1 - t0) * 1e3 / len(sample)
    ctx.layer["rdfa.walk.parse_rdfa_ms_per_page"] = (t2 - t1) * 1e3 / len(sample)
    ctx.layer["rdfa.walk.self_ms_per_page"] = (
        (t2 - t1) - (t1 - t0)) * 1e3 / len(sample)
    ctx.layer["rdfa.parse_mb_per_s"] = mb / (t2 - t1)


def ingest_run(ctx: Context, seconds: float) -> dict:
    walls = []
    deadline = time.perf_counter() + seconds
    root = None
    with RssSampler() as rss:
        while not walls or time.perf_counter() < deadline:
            if root:
                remove_tree(root)
            root = os.path.join(ctx.work, "store-%d" % len(walls))
            walls.append(_ingest_job(ctx, root))
    n = len(ctx.corpus.pages)
    res = checks.check_store(root, ctx.corpus.expected)
    return {
        "jobs": walls, "pages": n, "peak_rss_mb": rss.peak_mb,
        # rates from the median job, so one stalled job does not move them
        "throughput": n / median(walls),
        "mb_per_s": ctx.corpus.html_bytes / 1e6 / median(walls),
        "latency_p50_ms": median(walls) * 1e3,
        "error_ratio": res["error_pages"] / n,
        "attempted": n * len(walls),
        "failed": res["wrong_urls"] + res["error_pages"],
        "check": res, "root": root,
    }


def ingest_trace(ctx: Context, out: dict):
    """Per-layer numbers for ingest from one traced job (plus barrier
    runs and driver-side parser samples).  A traced refine job over the
    ingested store follows, as ``run_pipeline.py --link --expand
    --export-pages`` would run it, so the refine layers are measured on
    this workload too."""
    # warm-up for the refine job (it is the session's first); its spans
    # are dropped so no number below counts it
    ctx.store = out["root"]
    _refine_job(ctx)
    ctx.spans.records.clear()
    st = SparkStatus(ctx.sc)
    ex0 = st.executor_totals()
    t0 = time.perf_counter()
    n_pages = _ingest_layers(ctx)
    root = os.path.join(ctx.work, "store-traced")
    _ingest_job(ctx, root)
    traced_wall = time.perf_counter() - t0
    ctx.store = root
    _refine_job(ctx)
    ex1 = st.executor_totals()
    _parse_sample(ctx)
    snap = st.snapshot()
    _refine_layers(ctx, snap)
    sp, L = ctx.spans, ctx.layer
    src, ext, mat = sp.ids("sources"), sp.ids("extract"), sp.ids("materialize")
    L["sources.warc.busy_s"] = snap.stage_sum(src, "executorRunTime") / 1e3
    L["sources.warc.pages_out"] = float(n_pages)
    n_files = len(ctx.corpus.warc_files)

    def binary_scan(node, _ex):
        return "binaryFile" in node.get("nodeName", "")

    def python_node(node, _ex):
        return node.get("nodeName", "").startswith("MapInPandas")

    files_read = snap.node_metric(mat, binary_scan, "number of files read")
    L["sources.warc.read_amplification"] = files_read / n_files
    L["extract.busy_s"] = snap.stage_sum(ext, "executorRunTime") / 1e3
    L["extract.rows_out"] = snap.node_metric(ext, python_node, "number of output rows")
    L["extract.python_mb_sent"] = snap.node_metric(
        ext, python_node, "data sent to Python workers") / 1e6
    L["extract.python_mb_received"] = snap.node_metric(
        ext, python_node, "data returned from Python workers") / 1e6
    L["extract.task_skew"] = snap.task_skew(ext, "")
    writes = [e for e in snap.sql_for(mat)
              if "InsertIntoHadoopFsRelationCommand" in e.get("planDescription", "")]
    L["materialize.write_s"] = sum(e.get("duration", 0) for e in writes) / 1e3
    L["materialize.jobs"] = float(len(snap.jobs_for(mat)))
    L["materialize.compact_s"] = sum(sp.durations("compact"))
    L["spark.gc_s"] = ex1["gc_s"] - ex0["gc_s"]
    L["spark.shuffle_write_mb"] = ex1["shuffle_write_mb"] - ex0["shuffle_write_mb"]
    L["ingest.error_ratio"] = out["error_ratio"]
    L["trace.wall_s"] = traced_wall
    L["trace.overhead_ratio"] = traced_wall / median(out["jobs"]) - 1.0


# --- refine --------------------------------------------------------------

def refine_setup(ctx: Context):
    ctx.write_warcs()
    ctx.store = os.path.join(ctx.work, "store")
    build_store(ctx, ctx.store)


def refine_warm(ctx: Context):
    """Refine jobs keep getting faster over the first few runs in a
    session (JIT); two warm-up jobs take most of that out."""
    for _ in range(2):
        _refine_job(ctx)


def _barrier(df):
    df = df.cache()
    return df, df.count()


def _refine_job(ctx: Context) -> float:
    sp, spark, root = ctx.spans, ctx.spark, ctx.store
    refined = os.path.join(root, "triples_refined")
    exported = os.path.join(root, "pages_rdfa")
    t0 = time.perf_counter()
    cached = []
    with sp.span("refine"):
        with sp.span("read"):
            triples = materialize.read_triples(spark, root)
            if ctx.trace:
                triples, n_in = _barrier(triples)
                cached.append(triples)
        with sp.span("link"):
            # the connected-components fixpoint runs eagerly in here
            linked = link_entities(triples)
        if ctx.trace:
            with sp.span("link_rewrite"):
                linked, _ = _barrier(linked)
                cached.append(linked)
        with sp.span("expand"):
            out = expand(linked)
            if ctx.trace:
                out, n_out = _barrier(out)
                cached.append(out)
                ctx.layer["expand.rows_added"] = float(n_out - n_in)
        with sp.span("write"):
            out.write.mode("overwrite").parquet(refined)
        with sp.span("export"):
            export_rdfa_pages(spark.read.parquet(refined)) \
                .write.mode("overwrite").parquet(exported)
    for df in cached:
        df.unpersist()
    return time.perf_counter() - t0


def _refine_check(ctx: Context) -> dict:
    spark, root = ctx.spark, ctx.store
    cmap = {r["entity"]: r["canonical"] for r in
            sameas_clusters(materialize.read_triples(spark, root)).collect()}
    res = checks.check_clusters(cmap, ctx.corpus.components)
    exported = pq.ParquetDataset(os.path.join(root, "pages_rdfa")).read(
        columns=["url"]).num_rows
    want = sum(1 for p in ctx.corpus.pages if p.triples)
    res["exported_pages"], res["urls_with_triples"] = exported, want
    # no refined row may still name a non-canonical cluster member
    tbl = pq.ParquetDataset(os.path.join(root, "triples_refined")).read(
        columns=["subj", "obj", "obj_kind"])
    comp = ctx.corpus.components
    stale = sum(1 for s, o, k in zip(*(tbl.column(c).to_pylist()
                                      for c in ("subj", "obj", "obj_kind")))
                if comp.get(s, s) != s or (k == "iri" and comp.get(o, o) != o))
    res["stale_rows"] = stale
    res["failed"] = res["wrong_entities"] + abs(exported - want) + stale
    return res


def refine_run(ctx: Context, seconds: float) -> dict:
    walls = []
    deadline = time.perf_counter() + seconds
    with RssSampler() as rss:
        while not walls or time.perf_counter() < deadline:
            walls.append(_refine_job(ctx))
    res = _refine_check(ctx)
    n = sum(1 for p in ctx.corpus.pages if p.triples)
    return {
        "jobs": walls, "pages": n, "peak_rss_mb": rss.peak_mb,
        "throughput": n / median(walls),
        "latency_p50_ms": median(walls) * 1e3,
        "attempted": len(ctx.corpus.components) + n + 1,
        "failed": res["failed"], "check": res,
    }


def _refine_layers(ctx: Context, snap):
    """Per-layer numbers of the traced refine job over ``ctx.store``,
    plus driver-side writer calls on a seeded page sample."""
    from rdf_rdfa_spark.rdfa.terms import bnode, iri, literal
    from rdf_rdfa_spark.writer import serialize_rdfa

    sp, L = ctx.spans, ctx.layer
    link_ids = sp.ids("link") + sp.ids("link_rewrite")

    def scan(node, _ex):
        return node.get("nodeName", "").startswith("Scan parquet")

    L["materialize.read_mb"] = snap.node_metric(
        sp.ids("read"), scan, "size of files read") / 1e6
    L["link.cc_s"] = sum(sp.durations("link"))
    # each fixpoint round ends with a convergence probe, limit(1).count()
    L["link.cc_rounds"] = float(sum(
        1 for e in snap.sql_for(sp.ids("link"))
        if "GlobalLimit" in e.get("planDescription", "")))
    L["link.rewrite_s"] = sum(sp.durations("link_rewrite"))
    L["link.shuffle_mb"] = snap.stage_sum(link_ids, "shuffleWriteBytes") / 1e6
    L["expand.s"] = sum(sp.durations("expand"))
    L["export.s"] = sum(sp.durations("export"))
    L["export.shuffle_mb"] = snap.stage_sum(sp.ids("export"), "shuffleWriteBytes") / 1e6
    L["export.pages_out"] = float(pq.ParquetDataset(
        os.path.join(ctx.store, "pages_rdfa")).read(columns=["url"]).num_rows)
    # writer on the driver: serialize a seeded sample of oracle pages
    rng = random.Random(ctx.corpus.seed)
    pages = [p for p in ctx.corpus.pages if p.triples]
    sample = rng.sample(pages, min(100, len(pages)))

    def term(v, kind, lang, dt):
        if kind == "iri":
            return iri(v)
        if kind == "bnode":
            return bnode("b%d" % rng.randrange(10 ** 6))
        return literal(v, lang, dt)

    graphs = [[(term(s, "bnode" if s == gen.BNODE else "iri", None, None),
                iri(p), term(o, k, lang, dt))
               for (s, p, o, k, lang, dt) in pg.triples] for pg in sample]
    t1 = time.perf_counter()
    for g in graphs:
        serialize_rdfa(g)
    L["writer.serialize_ms_per_page"] = (time.perf_counter() - t1) * 1e3 / len(graphs)


def refine_trace(ctx: Context, out: dict):
    st = SparkStatus(ctx.sc)
    ex0 = st.executor_totals()
    t0 = time.perf_counter()
    _refine_job(ctx)
    traced_wall = time.perf_counter() - t0
    ex1 = st.executor_totals()
    _refine_layers(ctx, st.snapshot())
    L = ctx.layer
    L["spark.gc_s"] = ex1["gc_s"] - ex0["gc_s"]
    L["spark.shuffle_write_mb"] = ex1["shuffle_write_mb"] - ex0["shuffle_write_mb"]
    L["trace.wall_s"] = traced_wall
    L["trace.overhead_ratio"] = traced_wall / median(out["jobs"]) - 1.0


# --- serve ---------------------------------------------------------------

def _pages_table(pages) -> pa.Table:
    n = len(pages)
    return pa.table({
        "url": pa.array([p.url for p in pages], pa.string()),
        "warc_ts": pa.array([None] * n, pa.timestamp("us")),
        "html": pa.array([p.html for p in pages], pa.binary()),
        "text": pa.array([None] * n, pa.string()),
        "lang": pa.array([None] * n, pa.string()),
    })


class Server:
    """Closed-loop SPARQL clients + held-out-batch appends over one store."""

    def __init__(self, ctx: Context, root: str, tag: str):
        self.ctx, self.root = ctx, root
        self.inbox = os.path.join(ctx.work, "inbox-" + tag)
        self.ckpt = os.path.join(ctx.work, "ckpt-" + tag)
        os.makedirs(self.inbox, exist_ok=True)
        self.batches = list(ctx.corpus.heldout)
        self.appended: list = []
        self._append_lock = threading.Lock()
        self._op_lock = threading.Lock()
        self._next_op = 0
        rng = random.Random(ctx.corpus.seed * 7919 + 1)
        self.schedule = list(MIX)
        subj_rows: dict = {}
        objs: dict = {}
        for p in ctx.corpus.pages:
            for (s, pr, o, _k, _l, _d) in p.triples:
                if s != gen.BNODE:
                    subj_rows[s] = subj_rows.get(s, 0) + 1
                if pr == KNOWS:
                    objs[o] = objs.get(o, 0) + 1
        # popularity: Zipf over a seeded order of the known terms
        self.subjects = sorted(subj_rows)
        self.objects = sorted(objs)
        rng.shuffle(self.subjects)
        rng.shuffle(self.objects)
        self._rng = rng
        self._zs = gen._zipf_sampler(rng, len(self.subjects), 1.0)
        self._zo = gen._zipf_sampler(rng, len(self.objects), 1.0)

    def _const(self, template: str):
        with self._op_lock:
            if template == "agg":
                return None
            if template == "reverse":
                return self.objects[self._zo()]
            return self.subjects[self._zs()]

    def read(self, template: str, const, record: bool = True):
        sp = self.ctx.spans
        q = QUERIES[template]
        q = q.replace("%s", const) if const else q
        t0 = time.perf_counter()
        with sp.span("query") as rec:
            with sp.span("read_triples"):
                store = materialize.read_triples(self.ctx.spark, self.root)
                buckets = materialize.store_buckets(self.root)
            with sp.span("compile"):
                df = sparql(store, q, buckets=buckets)
            with sp.span("exec"):
                rows = [tuple(r) for r in df.collect()]
        wall = time.perf_counter() - t0
        files = [_local(f) for f in store.inputFiles()]
        return {"kind": "read", "template": template, "const": const,
                "rows": rows, "files": files, "s": wall, "span": rec["id"]}

    def append(self):
        with self._append_lock:
            if not self.batches:
                return None
            batch = self.batches.pop(0)
            k = len(self.appended)
            tmp = os.path.join(self.inbox, ".batch-%d.parquet" % k)
            pq.write_table(_pages_table(batch), tmp)
            os.rename(tmp, os.path.join(self.inbox, "batch-%d.parquet" % k))
            t0 = time.perf_counter()
            with self.ctx.spans.span("append"):
                q = materialize.stream_materialize(
                    self.ctx.spark, self.inbox, self.root, self.ckpt,
                    buckets=BUCKETS, available_now=True)
                q.awaitTermination()
            self.appended.append(batch)
            return {"kind": "append", "s": time.perf_counter() - t0}

    def warm(self):
        for template in dict.fromkeys(self.schedule):
            self.read(template, self._const(template))
        self.append()

    def loop(self, seconds: float) -> list:
        ops: list = []
        failures: list = []
        deadline = time.perf_counter() + seconds

        def client():
            while time.perf_counter() < deadline:
                with self._op_lock:
                    i = self._next_op
                    self._next_op += 1
                try:
                    op = None
                    if i % APPEND_EVERY == APPEND_EVERY - 1:
                        op = self.append()
                    if op is None:
                        t = self.schedule[i % len(self.schedule)]
                        op = self.read(t, self._const(t))
                    ops.append(op)
                except Exception as e:  # a failed op is counted, not fatal
                    failures.append(repr(e))

        threads = [threading.Thread(target=client) for _ in range(SERVE_CLIENTS)]
        t0 = time.perf_counter()
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        self.window_s = time.perf_counter() - t0
        self.failures = failures
        return ops


def serve_setup(ctx: Context):
    ctx.write_warcs()
    ctx.store = os.path.join(ctx.work, "store")
    build_store(ctx, ctx.store)
    if ctx.trace:
        # an identical copy for the traced loop (same start state)
        shutil.copytree(ctx.store, ctx.store + "-traced")
    ctx.server = Server(ctx, ctx.store, "main")


def serve_warm(ctx: Context):
    ctx.server.warm()


def _serve_summary(ctx: Context, server: Server, ops: list) -> dict:
    reads = [o for o in ops if o["kind"] == "read"]
    appends = [o for o in ops if o["kind"] == "append"]
    wrong = checks.check_answers(reads)
    expected = dict(ctx.corpus.expected)
    for batch in server.appended:
        expected.update({p.url: p.triples for p in batch})
    store = checks.check_store(server.root, expected)
    lat = [o["s"] * 1e3 for o in reads]
    attempted = len(ops) + len(server.failures)
    failed = len(server.failures) + len(wrong)
    return {
        "reads": reads, "appends": appends, "wrong": wrong,
        "peak_rss_mb": 0.0,
        "throughput": len(ops) / server.window_s,
        "latency_p50_ms": median(lat),
        "read_p90_ms": quantile(lat, 0.9),
        "append_p50_ms": median([o["s"] * 1e3 for o in appends]),
        "attempted": attempted + store["urls"],
        "failed": failed + store["wrong_urls"] + store["error_pages"],
        "error_ratio": failed / max(1, attempted),
        "check": {"wrong_answers": len(wrong), "client_errors": len(server.failures),
                  "store": store, "example": list(wrong.values())[:3]
                  + server.failures[:3]},
    }


def serve_run(ctx: Context, seconds: float) -> dict:
    with RssSampler() as rss:
        ops = ctx.server.loop(seconds)
    out = _serve_summary(ctx, ctx.server, ops)
    out["peak_rss_mb"] = rss.peak_mb
    out["window_s"] = ctx.server.window_s
    return out


def serve_trace(ctx: Context, out: dict):
    st = SparkStatus(ctx.sc)
    ex0 = st.executor_totals()
    server = Server(ctx, ctx.store + "-traced", "traced")
    ops = server.loop(out["window_s"])
    ex1 = st.executor_totals()
    traced = _serve_summary(ctx, server, ops)
    snap = st.snapshot()
    sp, L = ctx.spans, ctx.layer
    reads = traced["reads"]

    def scan(node, _ex):
        return node.get("nodeName", "").startswith("Scan parquet")

    by_query = {}
    for r in sp.records:
        if r["name"] in ("read_triples", "compile", "exec"):
            by_query.setdefault(r["parent"], {})[r["name"]] = r["end"] - r["start"]
    mine = [by_query.get(o["span"], {}) for o in reads]
    L["materialize.read_triples_ms"] = median([m.get("read_triples", 0) * 1e3 for m in mine])
    L["sparql.compile_ms_p50"] = median([m.get("compile", 0) * 1e3 for m in mine])
    L["sparql.exec_ms_p50"] = median([m.get("exec", 0) * 1e3 for m in mine])
    files, mb, scanned, jobs, tasks = [], [], 0.0, [], []
    returned = 0
    for o in reads:
        groups = [r["id"] for r in sp.records if r["parent"] == o["span"]]
        files.append(snap.node_metric(groups, scan, "number of files read"))
        mb.append(snap.node_metric(groups, scan, "size of files read") / 1e6)
        scanned += snap.node_metric(groups, scan, "number of output rows")
        returned += len(o["rows"])
        jobs.append(len(snap.jobs_for(groups)))
        tasks.append(snap.tasks(groups))
    L["sparql.files_scanned_per_query"] = median(files)
    L["sparql.mb_scanned_per_query"] = median(mb)
    L["sparql.rows_scanned_per_row_returned"] = scanned / max(1, returned)
    for t in ("lookup", "reverse", "path", "agg"):
        L["serve.%s_p50_ms" % t] = median(
            [o["s"] * 1e3 for o in reads if o["template"] == t])
    L["serve.join_p50_ms"] = median(
        [o["s"] * 1e3 for o in reads if o["template"].startswith("join")])
    L["spark.jobs_per_query"] = median(jobs)
    L["spark.tasks_per_query"] = median(tasks)
    L["streaming.append_commit_s"] = median(
        [o["s"] for o in traced["appends"]])
    L["store.files_total"] = float(len(_store_files(server.root)))
    L["spark.gc_s"] = ex1["gc_s"] - ex0["gc_s"]
    L["spark.shuffle_write_mb"] = ex1["shuffle_write_mb"] - ex0["shuffle_write_mb"]
    L["serve.read_p90_ms"] = out["read_p90_ms"]
    L["serve.append_p50_ms"] = out["append_p50_ms"]
    L["serve.error_ratio"] = out["error_ratio"]
    L["trace.wall_s"] = server.window_s
    L["trace.overhead_ratio"] = (out["throughput"] / traced["throughput"] - 1.0
                                 if traced["throughput"] else 0.0)
    if traced["failed"]:
        out["failed"] += traced["failed"]
        out["check"]["traced_failures"] = traced["check"]


WORKLOADS = {
    "ingest": (ingest_setup, ingest_warm, ingest_run, ingest_trace),
    "refine": (refine_setup, refine_warm, refine_run, refine_trace),
    "serve": (serve_setup, serve_warm, serve_run, serve_trace),
}

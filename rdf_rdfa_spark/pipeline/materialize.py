"""Partitioned triple store with snapshot manifests and resumable
ingest (SURVEY.md S10; north_rule stages 4-5).

Layout (parquet; Iceberg-shaped — bucketed on subject so point lookups
and subject-grouped joins prune partitions):

    <root>/triples/graph=<output|processor>/bucket=<k>/*.parquet
    <root>/_snapshots/v<N>.json        snapshot N's manifest
    <root>/_snapshots/HEAD             the current snapshot id

The manifest is the store: v<N>.json lists every data file live at
snapshot N and every input consumed by then (``inputs``: batch chunk
keys ``chunk-<i>/<n>``, stream page file URIs), plus the bucketing
modulus, parent, kind, chunk and the commit's counts.  `write_triples`
is the only commit (data files, then manifest, then HEAD, each through
a temp file and `os.replace`, so a crash anywhere leaves the previous
snapshot current and whole) and `read_triples` the only read (exactly
the manifest's files, so a crashed write's files stay invisible).

Resume: `_ingest` commits each batch chunk or group of stream files as
one snapshot naming it in ``inputs``, so data and "consumed" mark land
in one HEAD swap, and a re-run ingests what HEAD's ``inputs`` lack.
"""

from __future__ import annotations

import glob
import json
import operator
import os
import threading
import time
from functools import reduce
from urllib.parse import unquote

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from .extract import extract_triples
from .schema import PAGES_SCHEMA, TRIPLES_SCHEMA

# the columns and types a directory read of the store infers: the data
# columns, then the graph/bucket partition columns
_STORE_SCHEMA = StructType(
    [StructField(f.name, f.dataType) for f in TRIPLES_SCHEMA.fields]
    + [StructField("bucket", IntegerType())])


def subject_bucket(subj, buckets: int) -> Column:
    """The store's subject bucket.  On a literal subject
    (``F.lit(iri)``) Catalyst constant-folds it, so a filter on it
    prunes the scan to one bucket directory at planning time."""
    return F.pmod(F.xxhash64(subj), F.lit(buckets))


def _store_files(tdir: str) -> set:
    return {os.path.relpath(p, tdir) for p in glob.glob(
        os.path.join(tdir, "graph=*", "bucket=*", "*.parquet"))}


def current_snapshot(root: str) -> int:
    try:
        with open(os.path.join(root, "_snapshots", "HEAD")) as fh:
            return int(fh.read())
    except FileNotFoundError:
        return 0


def _manifest(root: str, snapshot: int | None = None) -> dict:
    n = current_snapshot(root) if snapshot is None else snapshot
    if not n:
        return {"snapshot": 0, "files": [], "inputs": [], "buckets": None}
    with open(os.path.join(root, "_snapshots", "v%d.json" % n)) as fh:
        return json.load(fh)


def _replace(path: str, text: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def write_triples(triples: DataFrame, root: str, buckets: int = 64,
                  mode: str = "append", kind: str | None = None,
                  chunk=None, replaces=(), inputs=(), observed=()) -> int:
    """Write ``triples`` into the store and commit them as a new
    snapshot; returns its id.  ``mode="overwrite"`` replaces the whole
    store; ``"append"`` must keep its bucketing modulus.  ``replaces``
    lists live files the commit drops (compaction's inputs), ``inputs``
    what it consumed.  The manifest records ``kind`` (default: the
    mode), ``chunk``, the commit's seconds and, in ``stats``, the
    ``triples`` written plus the metrics of the ``observed``
    Observations on the input: the write's one job counts them all."""
    started = time.time()
    head = _manifest(root)
    # appending with a different modulus than the store was written
    # with would leave old rows in old-modulus partition dirs while
    # bucket-pruned queries hash with the new one — silently missing
    # rows.  Refuse up front.
    if mode == "append" and head["buckets"] not in (None, buckets):
        raise ValueError(
            "store at %s was written with buckets=%d; appending "
            "with buckets=%d would corrupt bucket pruning — pass "
            "the original modulus" % (root, head["buckets"], buckets))
    tdir = os.path.join(root, "triples")
    live = set(head["files"])
    # files HEAD does not list are a crashed commit's: with one writer
    # per store, delete them before adding this commit's
    for rel in _store_files(tdir) - live:
        os.remove(os.path.join(tdir, rel))
    counted = Observation()
    # repartition on the partition key: at most one file per partition
    # per commit.  sortWithinPartitions(pred, subj) clusters each
    # file's row groups by predicate, so a pred-filtered scan (every
    # BGP pattern) skips row groups via min/max stats — the poor man's
    # z-order for the two columns every query filters on
    (triples.observe(counted, F.count(F.lit(1)).alias("triples"))
     .withColumn("graph", F.coalesce("graph", F.lit("output")))
     .withColumn("bucket", subject_bucket("subj", buckets))
     .repartition("graph", "bucket").sortWithinPartitions("pred", "subj")
     .write.mode(mode).partitionBy("graph", "bucket").parquet(tdir))
    stats = {"triples": 0}
    for obs in (counted, *observed):
        try:
            stats.update(obs.get)
        except Py4JJavaError:  # Catalyst pruned an input it proved
            pass               # empty, and the observation with it
    added = _store_files(tdir) - live
    if mode == "overwrite":
        live, head["inputs"] = set(), []
    n = head["snapshot"] + 1
    sdir = os.path.join(root, "_snapshots")
    os.makedirs(sdir, exist_ok=True)
    _replace(os.path.join(sdir, "v%d.json" % n), json.dumps({
        "snapshot": n, "parent": head["snapshot"] or None,
        "kind": kind or mode, "chunk": chunk, "buckets": buckets,
        "stats": dict(stats, elapsed_sec=round(time.time() - started, 3)),
        "files_added": len(added), "files_removed": len(replaces),
        "files": sorted(live - set(replaces) | added),
        "inputs": sorted(set(head["inputs"]) | set(inputs))}))
    _replace(os.path.join(sdir, "HEAD"), str(n))
    return n


def store_buckets(root: str) -> int | None:
    """The store's subject-bucketing modulus, from the HEAD manifest
    (None for an empty store — pruning is then skipped, never
    wrong)."""
    return _manifest(root)["buckets"]


# read_triples memo: root -> (session, live files, DataFrame)
_READS: dict = {}
_READS_MAX = 8
_READS_LOCK = threading.Lock()


def read_triples(spark, root: str, snapshot: int | None = None) -> DataFrame:
    """Read the store at HEAD — or TIME-TRAVEL to a snapshot id: only
    the data files that snapshot's manifest lists are scanned (basePath
    keeps the graph/bucket partition columns), exactly the Iceberg
    snapshot-read semantics on this manifest layout.

    The DataFrame is memoized per root on the session and the set of
    live files: Spark gives every file it writes a unique name, so an
    equal set means equal data, and a repeated read skips the file
    listing."""
    tdir = os.path.join(root, "triples")
    files = _manifest(root, snapshot)["files"]
    if snapshot is not None:
        # compaction physically deletes replaced files, so a
        # pre-compaction snapshot read is PARTIAL (exactly as after an
        # Iceberg expire_snapshots): scan only the manifest files that
        # still exist instead of failing at scan time
        files = [f for f in files if os.path.exists(os.path.join(tdir, f))]
    key, live = os.path.abspath(root), frozenset(files)
    with _READS_LOCK:
        hit = _READS.get(key)
        if hit is None or hit[0] is not spark or hit[1] != live:
            reader = spark.read.schema(_STORE_SCHEMA)
            if files:  # an empty store reads as no paths, no basePath
                reader = reader.option("basePath", tdir)
            hit = (spark, live,
                   reader.parquet(*[os.path.join(tdir, f) for f in files]))
            _READS.pop(key, None)
            _READS[key] = hit
            if len(_READS) > _READS_MAX:  # forget the longest-unchanged
                del _READS[next(iter(_READS))]
    return hit[2]


def _ingest(pages: DataFrame, root: str, buckets: int, chunk, inputs,
            **extract_kw) -> int:
    """Extract ``pages`` and commit their triples as one snapshot that
    records ``inputs`` as consumed, in one Spark action."""
    seen = Observation()
    pages = pages.observe(seen, F.count(F.lit(1)).alias("pages"))
    return write_triples(extract_triples(pages, **extract_kw), root,
                         buckets=buckets, chunk=chunk, inputs=inputs,
                         observed=[seen])


def materialize_resumable(pages: DataFrame, root: str, chunks: int = 16,
                          buckets: int = 64, **extract_kw) -> dict:
    """Extract + write in url-hash chunks, one snapshot per chunk,
    skipping chunks whose key ``chunk-<i>/<chunks>`` HEAD's ``inputs``
    already list. Returns a summary dict."""
    consumed = set(_manifest(root)["inputs"])
    # resuming under another split would ingest the pages of the chunks
    # already done a second time — duplicate rows.  Refuse up front.
    other = {int(k.rsplit("/", 1)[1]) for k in consumed
             if k.startswith("chunk-")} - {chunks}
    if other:
        raise ValueError(
            "store at %s was ingested with chunks=%d; resuming with "
            "chunks=%d would ingest pages twice — pass the original "
            "chunk count" % (root, min(other), chunks))
    keys = ["chunk-%d/%d" % (i, chunks) for i in range(chunks)]
    ran = [i for i, key in enumerate(keys) if key not in consumed]
    chunked = pages.withColumn("_chunk", F.pmod(F.xxhash64("url"),
                                                F.lit(chunks)))
    for i in ran:
        _ingest(chunked.filter(F.col("_chunk") == i).drop("_chunk"), root,
                buckets, i, [keys[i]], **extract_kw)
    return {"chunks": chunks, "ran": ran,
            "skipped": [i for i in range(chunks) if i not in ran]}


def lineage_summary(root: str) -> dict:
    """Per-chunk ingest counts from the manifests: the latest commit of
    each chunk (a re-run chunk counts once), and their sums."""
    latest = {}
    for n in range(1, current_snapshot(root) + 1):
        m = _manifest(root, n)
        if m["chunk"] is not None:
            latest[m["chunk"]] = dict(m["stats"], chunk=m["chunk"],
                                      snapshot=n)
    chunks = list(latest.values())
    return {"chunks": chunks,
            "pages": sum(c.get("pages", 0) for c in chunks),
            "triples": sum(c.get("triples", 0) for c in chunks)}


def subject_lookup(spark, root: str, subj: str) -> DataFrame:
    """Point lookup on the materialized store: filter on the subject's
    bucket under the store's own modulus, a partition filter, so the
    scan prunes to one bucket directory (1/buckets of the store) before
    touching row groups — the reason the sink buckets on subject
    (SURVEY S10)."""
    bucket = subject_bucket(F.lit(subj), store_buckets(root))
    return (read_triples(spark, root)
            .filter((F.col("bucket") == bucket) & (F.col("subj") == subj)))


def compact_store(spark, root: str, max_files_per_partition: int = 1) -> dict:
    """Small-file compaction: every (graph, bucket) partition holding
    more than ``max_files_per_partition`` live files is rewritten in ONE
    Spark job (``read_triples`` plus a partition filter, one
    ``write_triples`` commit of kind ``compact`` that replaces those
    files), then the replaced files are deleted — Iceberg's
    rewrite_data_files + expire_snapshots in one op, so time travel to
    pre-compaction snapshots becomes partial.  Every ingest commit adds
    a file per partition; periodic compaction keeps scan task counts
    flat at crawl scale."""
    head = _manifest(root)
    by_part: dict[str, list] = {}
    for rel in head["files"]:
        by_part.setdefault(os.path.dirname(rel), []).append(rel)
    oversized = sorted(p for p, fs in by_part.items()
                       if len(fs) > max_files_per_partition)
    if not oversized:
        return {"rewritten_partitions": [], "snapshot": head["snapshot"]}
    keys = [[kv.split("=", 1)[1] for kv in p.split(os.sep)]
            for p in oversized]
    cond = reduce(operator.or_, [
        (F.col("graph") == unquote(g)) & (F.col("bucket") == int(b))
        for g, b in keys])
    replaced = [f for p in oversized for f in by_part[p]]
    snap = write_triples(read_triples(spark, root).filter(cond), root,
                         buckets=head["buckets"], kind="compact",
                         replaces=replaced)
    for rel in replaced:
        os.remove(os.path.join(root, "triples", rel))
    return {"rewritten_partitions": oversized, "snapshot": snap,
            "files_removed": len(replaced),
            "files_added": _manifest(root, snap)["files_added"]}


class _Finished:  # stream_materialize's handle: the work is done
    def awaitTermination(self, timeout=None) -> bool:
        return True


def stream_materialize(spark, input_dir: str, root: str,
                       checkpoint_dir: str | None = None, buckets: int = 64,
                       available_now: bool = True,
                       max_files_per_trigger: int = 16, **extract_kw):
    """Incremental crawl ingestion: the page files Spark lists under
    ``input_dir`` (a directory or a glob) that HEAD's ``inputs`` do not
    list go through the same `_ingest` as batch chunks, up to
    ``max_files_per_trigger`` files per snapshot (chunk
    ``stream-<snapshot>``).  No checkpoint is kept: a re-run ingests
    what HEAD has not consumed, so a crash anywhere loses or repeats
    no file.

    ``checkpoint_dir`` and ``available_now`` remain only for callers of
    the former Structured Streaming query: the first is ignored,
    ``available_now=False`` raises ``ValueError`` (there is no
    continuous mode), and the return value is a finished handle whose
    ``awaitTermination`` returns True."""
    if not available_now:
        raise ValueError("stream_materialize has no continuous mode")
    read = spark.read.schema(PAGES_SCHEMA).parquet
    # Spark lists the leaf files, skipping the hidden _* and .* names
    new = sorted(set(read(input_dir).inputFiles())
                 - set(_manifest(root)["inputs"]))
    for k in range(0, len(new), max_files_per_trigger):
        group = new[k:k + max_files_per_trigger]
        _ingest(read(*group), root, buckets,
                "stream-%d" % (current_snapshot(root) + 1), group,
                **extract_kw)
    return _Finished()

"""Subject-bucketed triple store with snapshot manifests and resumable
ingest (SURVEY.md S10; north_rule stages 4-5).

Layout (parquet; Iceberg-shaped — rows carry their subject ``bucket``,
whose row-group stats prune point lookups; no commit shuffles):

    <root>/triples/*.parquet           one file per write task, sorted
                                       by (graph, bucket, pred, subj)
    <root>/_snapshots/v<N>.json        snapshot N's manifest
    <root>/_snapshots/HEAD             the current snapshot id

The manifest is the store: v<N>.json lists every data file live at
snapshot N and every input consumed by then (``inputs``: batch chunk
keys ``chunk-<i>/<n>``, stream page file URIs), plus the bucketing
modulus, parent, kind, chunk and the commit's counts.  `write_triples`
is the only commit (new data files beside the live ones, then manifest,
then HEAD, each through a temp file and `os.replace`, and only then the
deletion of the files it replaces, so a crash anywhere leaves the
previous snapshot current and whole) and `read_triples` the only read
(exactly the manifest's files, so a crashed write's files stay
invisible).

Resume: `_ingest` commits a batch run (its chunk keys) or a group of
stream files as one snapshot naming them in ``inputs``, so data and
"consumed" mark land in one HEAD swap, and a re-run ingests the rest.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from .extract import extract_triples
from .schema import PAGES_SCHEMA, TRIPLES_SCHEMA

# the columns and types of the store's files: the triple columns, then
# the subject bucket
_STORE_SCHEMA = StructType(
    [StructField(f.name, f.dataType) for f in TRIPLES_SCHEMA.fields]
    + [StructField("bucket", IntegerType())])


def subject_bucket(subj, buckets: int) -> Column:
    """The store's subject bucket, an int.  On a literal subject
    (``F.lit(iri)``) Catalyst constant-folds it, so a filter on it is
    pushed to the parquet scan, whose row-group statistics skip the
    other buckets."""
    return F.pmod(F.xxhash64(subj), F.lit(buckets)).cast("int")


def _store_files(tdir: str) -> set:
    return {os.path.basename(p)
            for p in glob.glob(os.path.join(tdir, "*.parquet"))}


def _flat_layout(root: str, head: dict) -> dict:
    # a graph=/bucket= directory store reads with NULL graph and
    # bucket, so every lookup would silently miss
    if any(os.sep in f for f in head["files"]):
        raise ValueError("store at %s has the old graph=/bucket= directory "
                         "layout; rebuild it from its inputs" % root)
    return head


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
    store (every live file, and ``inputs`` start over); ``"append"``
    must keep its bucketing modulus.  ``replaces`` lists live files the
    commit drops (compaction's inputs), ``inputs`` what it consumed.
    The manifest records ``kind`` (default: the mode), ``chunk``, the
    commit's seconds and, in ``stats``, the ``triples`` written plus
    the metrics of the ``observed`` Observations on the input: the
    write's one job counts them all.

    New files are always added beside the live ones; the replaced files
    are deleted only after the HEAD swap, so readers and a crash before
    it see the previous snapshot whole.  A crash after the swap leaves
    the replaced files on disk, in no manifest: the next commit's sweep
    deletes them."""
    started = time.time()
    head = _manifest(root)
    if mode == "append":
        _flat_layout(root, head)
    # appending with a different modulus than the store was written
    # with would leave old rows under old-modulus buckets while
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
    # no shuffle: each task sorts its rows and writes one file.  The
    # sort clusters row groups by bucket (then predicate), so a
    # constant-subject scan skips row groups via min/max stats
    (triples.observe(counted, F.count(F.lit(1)).alias("triples"))
     .withColumn("graph", F.coalesce("graph", F.lit("output")))
     .withColumn("bucket", subject_bucket("subj", buckets))
     .sortWithinPartitions("graph", "bucket", "pred", "subj")
     .write.mode("append").parquet(tdir))
    stats = {"triples": 0}
    for obs in (counted, *observed):
        try:
            stats.update(obs.get)
        except Py4JJavaError:  # Catalyst pruned an input it proved
            pass               # empty, and the observation with it
    added = _store_files(tdir) - live
    if not stats["triples"]:  # Spark writes a schema-only file
        for rel in added:
            os.remove(os.path.join(tdir, rel))
        added = set()
    if mode == "overwrite":
        replaces, head["inputs"] = live, []
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
    for rel in replaces:
        os.remove(os.path.join(tdir, rel))
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
    the data files that snapshot's manifest lists are scanned, exactly
    the Iceberg snapshot-read semantics on this manifest layout.  A
    store in the old graph=/bucket= directory layout raises
    ``ValueError``.

    The DataFrame is memoized per root on the session and the set of
    live files: Spark gives every file it writes a unique name, so an
    equal set means equal data, and a repeated read skips the file
    listing."""
    tdir = os.path.join(root, "triples")
    files = _flat_layout(root, _manifest(root, snapshot))["files"]
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
            hit = (spark, live, spark.read.schema(_STORE_SCHEMA).parquet(
                *[os.path.join(tdir, f) for f in files]))
            _READS.pop(key, None)
            _READS[key] = hit
            if len(_READS) > _READS_MAX:  # forget the longest-unchanged
                del _READS[next(iter(_READS))]
    return hit[2]


def _ingest(pages: DataFrame, root: str, buckets: int, label: str,
            inputs) -> int:
    """Extract ``pages`` and commit their triples, in one Spark action,
    as one snapshot (chunk ``<label>-<n>``) that consumes ``inputs``."""
    seen = Observation()
    pages = pages.observe(seen, F.count(F.lit(1)).alias("pages"))
    return write_triples(extract_triples(pages), root,
                         buckets=buckets, inputs=inputs, observed=[seen],
                         chunk="%s-%d" % (label, current_snapshot(root) + 1))


def materialize_resumable(pages: DataFrame, root: str, chunks: int = 16,
                          buckets: int = 64) -> dict:
    """Extract + write, as ONE `_ingest` snapshot that lists their keys,
    the pages of the url-hash chunks ``chunk-<i>/<chunks>`` that HEAD's
    ``inputs`` lack; ``chunks`` only names the resume keys.  Returns a
    summary dict."""
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
    if ran:
        if len(ran) < chunks:  # left half done by commits per chunk
            pages = pages.filter(F.pmod(F.xxhash64("url"),
                                        F.lit(chunks)).isin(ran))
        _ingest(pages, root, buckets, "batch", [keys[i] for i in ran])
    return {"chunks": chunks, "ran": ran,
            "skipped": [i for i in range(chunks) if i not in ran]}


def lineage_summary(root: str) -> dict:
    """Per-commit ingest counts from the manifests, one entry per
    commit with a chunk label, and their sums."""
    manifests = [_manifest(root, n)
                 for n in range(1, current_snapshot(root) + 1)]
    chunks = [dict(m["stats"], chunk=m["chunk"], snapshot=m["snapshot"])
              for m in manifests if m["chunk"] is not None]
    return {"chunks": chunks,
            "pages": sum(c.get("pages", 0) for c in chunks),
            "triples": sum(c.get("triples", 0) for c in chunks)}


def compact_store(spark, root: str) -> dict:
    """Small-file compaction: rewrite every live file in ONE
    ``write_triples`` commit of kind ``compact`` that replaces them
    (Iceberg's rewrite_data_files + expire_snapshots in one op, so time
    travel to pre-compaction snapshots becomes partial).  Spark packs
    the small files into read splits and writes one sorted file per
    split.  When HEAD's own commit added every live file (a fresh
    ingest, an overwrite, a compaction) it starts no Spark job."""
    head = _manifest(root)
    live = head["files"]
    if not set(live) & set(_manifest(root, head.get("parent") or 0)["files"]):
        return {"snapshot": head["snapshot"], "files_removed": 0,
                "files_added": 0}
    snap = write_triples(read_triples(spark, root), root,
                         buckets=head["buckets"], kind="compact",
                         replaces=live)
    return {"snapshot": snap, "files_removed": len(live),
            "files_added": _manifest(root, snap)["files_added"]}


class _Finished:  # stream_materialize's handle: the work is done
    def awaitTermination(self, timeout=None) -> bool:
        return True


def stream_materialize(spark, input_dir: str, root: str,
                       checkpoint_dir: str | None = None, buckets: int = 64,
                       available_now: bool = True,
                       max_files_per_trigger: int = 16):
    """Incremental crawl ingestion: the page files Spark lists under
    ``input_dir`` (a directory or a glob) that HEAD's ``inputs`` do not
    list go through the same `_ingest` as batch runs, up to
    ``max_files_per_trigger`` files per snapshot.  No checkpoint is
    kept: a re-run ingests what HEAD has not consumed, so a crash
    anywhere loses or repeats no file.

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
        _ingest(read(*group), root, buckets, "stream", group)
    return _Finished()

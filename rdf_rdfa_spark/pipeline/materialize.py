"""Partitioned triple store with snapshot manifests and
checkpoint-resumable ingest (SURVEY.md S10; north_rule stages 4-5).

Layout (parquet; Iceberg-shaped — bucketed on subject so point lookups
and subject-grouped joins prune partitions):

    <root>/triples/graph=<output|processor>/bucket=<k>/*.parquet
    <root>/_snapshots/v<N>.json        snapshot N's manifest
    <root>/_snapshots/HEAD             the current snapshot id
    <root>/_progress/chunk-<i>.done    commit markers (idempotent resume)

The manifest is the store: v<N>.json lists every data file live at
snapshot N, plus the bucketing modulus, parent, kind, chunk and the
commit's counts.  `write_triples` is the only commit (data files, then
manifest, then HEAD, each through a temp file and `os.replace`, so a
crash anywhere leaves the previous snapshot current and whole), and
`read_triples` the only read (exactly the manifest's files, so files
of a crashed write are invisible).

Resume protocol: input pages are split into `chunks` deterministic
url-hash chunks, one snapshot each; a chunk's .done marker is written
only after its snapshot commits, so a re-run skips completed chunks
and re-runs a crashed one.  With Iceberg available, swap the writer
for `writeTo(...).append()` and the marker for the snapshot id.
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

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from .extract import extract_triples
from .schema import TRIPLES_SCHEMA

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


def _bucketed(triples: DataFrame, buckets: int) -> DataFrame:
    return (
        triples.withColumn("graph", F.coalesce("graph", F.lit("output")))
        .withColumn("bucket", subject_bucket("subj", buckets))
    )


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
        return {"snapshot": 0, "files": [], "buckets": None}
    with open(os.path.join(root, "_snapshots", "v%d.json" % n)) as fh:
        return json.load(fh)


def _replace(path: str, text: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def write_triples(triples: DataFrame, root: str, buckets: int = 64,
                  mode: str = "append", kind: str | None = None,
                  chunk=None, replaces=(), stats: dict | None = None,
                  started: float | None = None) -> int:
    """Write ``triples`` into the store and commit them as a new
    snapshot; returns its id.  ``mode="overwrite"`` replaces the whole
    store; ``"append"`` must keep its bucketing modulus.  ``replaces``
    lists live files the commit drops (compaction's inputs).  The
    manifest records ``kind`` (default: the mode), ``chunk``, ``stats``
    and the seconds since ``started`` (default: this call)."""
    started = time.time() if started is None else started
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
    before = _store_files(tdir)
    # repartition on the partition key: at most one file per partition
    # per commit.  sortWithinPartitions(pred, subj) clusters each
    # file's row groups by predicate, so a pred-filtered scan (every
    # BGP pattern) skips row groups via min/max stats — the poor man's
    # z-order for the two columns every query filters on
    (_bucketed(triples, buckets).repartition("graph", "bucket")
     .sortWithinPartitions("pred", "subj")
     .write.mode(mode).partitionBy("graph", "bucket").parquet(tdir))
    added = _store_files(tdir) - before
    live = added if mode == "overwrite" else (
        set(head["files"]) - set(replaces) | added)
    n = head["snapshot"] + 1
    sdir = os.path.join(root, "_snapshots")
    os.makedirs(sdir, exist_ok=True)
    _replace(os.path.join(sdir, "v%d.json" % n), json.dumps({
        "snapshot": n, "parent": head["snapshot"] or None,
        "kind": kind or mode, "chunk": chunk, "buckets": buckets,
        "stats": dict(stats or {},
                      elapsed_sec=round(time.time() - started, 3)),
        "files_added": len(added), "files_removed": len(replaces),
        "files": sorted(live)}))
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


def materialize_resumable(pages: DataFrame, root: str, chunks: int = 16,
                          buckets: int = 64, **extract_kw) -> dict:
    """Extract + write in url-hash chunks, one snapshot per chunk,
    skipping chunks whose .done marker exists. Returns a summary
    dict."""
    os.makedirs(os.path.join(root, "_progress"), exist_ok=True)
    done, ran = [], []
    chunked = pages.withColumn("_chunk", F.pmod(F.xxhash64("url"),
                                                F.lit(chunks)))
    for i in range(chunks):
        marker = os.path.join(root, "_progress", "chunk-%d.done" % i)
        if os.path.exists(marker):
            done.append(i)
            continue
        t0 = time.time()
        part = chunked.filter(F.col("_chunk") == i).drop("_chunk")
        # the commit records per-chunk counts; cache to avoid re-extract
        triples = extract_triples(part, **extract_kw).cache()
        stats = {"pages": part.select("url").distinct().count(),
                 "triples": triples.count()}
        write_triples(triples, root, buckets=buckets, chunk=i,
                      stats=stats, started=t0)
        triples.unpersist()
        # marker written only after the snapshot committed
        with open(marker, "w") as f:
            f.write("ok\n")
        ran.append(i)
    return {"chunks": chunks, "skipped": done, "ran": ran}


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
    more than ``max_files_per_partition`` live files is rewritten,
    committed as a ``compact`` snapshot that replaces those files, and
    the replaced files are physically deleted — the Iceberg
    rewrite_data_files + expire_snapshots pair collapsed into one
    maintenance op (time travel to pre-compaction snapshots becomes
    partial, exactly as after an Iceberg expire).

    ONE Spark job regardless of partition count: the oversized
    partitions are read together (``read_triples`` plus a partition
    filter) and rewritten by one ``write_triples`` commit, which writes
    one file per partition. Incremental micro-batch ingestion
    (stream_materialize) adds a file per partition per batch, so
    periodic compaction is what keeps scan task counts flat at crawl
    scale."""
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
    tdir = os.path.join(root, "triples")
    for rel in replaced:
        os.remove(os.path.join(tdir, rel))
    return {"rewritten_partitions": oversized, "snapshot": snap,
            "files_removed": len(replaced),
            "files_added": _manifest(root, snap)["files_added"]}


def stream_materialize(spark, input_dir: str, root: str,
                       checkpoint_dir: str, buckets: int = 64,
                       available_now: bool = True,
                       max_files_per_trigger: int = 16, **extract_kw):
    """Incremental crawl ingestion: new page files under ``input_dir``
    stream through the SAME extraction UDF and land in the SAME
    partitioned store via foreachBatch — each micro-batch commits one
    snapshot through ``write_triples`` (chunk = ``stream-<batch id>``),
    so the store stays time-travelable and lineage'd whether it was
    built by batch chunks, streaming micro-batches, or both.

    foreachBatch is AT-LEAST-once: a crash between the parquet append
    and the snapshot commit replays the batch, leaving the crashed
    attempt's files on disk but in no manifest (so no read sees them).
    Each batch therefore starts by sweeping data files the HEAD
    manifest does not list before appending — with that reconciliation
    the store is exactly-once per batch.  This assumes the stream owns
    the store while it runs (no other writer commits concurrently)."""
    from .schema import PAGES_SCHEMA

    def _sink(batch_df, batch_id):
        t0 = time.time()
        triples = extract_triples(batch_df, **extract_kw).cache()
        n = triples.count()
        tdir = os.path.join(root, "triples")
        for rel in _store_files(tdir) - set(_manifest(root)["files"]):
            os.remove(os.path.join(tdir, rel))
        write_triples(triples, root, buckets=buckets,
                      chunk="stream-%d" % batch_id,
                      stats={"triples": n}, started=t0)
        triples.unpersist()

    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )
    writer = (pages.writeStream.foreachBatch(_sink)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

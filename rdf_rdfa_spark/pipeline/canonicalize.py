"""MinHash-LSH canonicalization / near-duplicate clustering
(SURVEY.md J4; north_rule stage 3).

Design notes for 100 TB:
  - Signatures are computed ENTIRELY JVM-side: tokenize with
    split(), hash tokens with xxhash64, and evaluate each of the
    num_hashes permutations as array_min(transform(...)) — no Python
    worker in the loop, whole-stage codegen applies.
  - LSH banding turns the O(n²) similarity join into groupBy(band_key)
    buckets; only same-bucket pairs are candidate-joined. Bucket skew
    (e.g. boilerplate-heavy hosts emitting near-identical pages) is
    bounded by `max_bucket` — oversized buckets are dropped with a
    lineage count rather than exploding a reducer (explicit skew
    handling per north_rule).
  - Candidate pairs can be exact-verified with a Jaccard expression
    over distinct token arrays, then clustered with the same
    connected-components routine used for entity linking.

Permutation constants derive from SplitMix64 on a fixed seed —
deterministic across runs/executors (no Math.random at plan time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .link import connected_components
from .session import fan_out

# Mersenne prime 2^31-1: params and residues stay below 2^31, so the
# a*h+b permutation never exceeds 2^62 — safe under ANSI long
# arithmetic (Spark 4 overflow-checks by default)
_PRIME = (1 << 31) - 1


def _splitmix64(seed: int):
    x = seed & 0xFFFFFFFFFFFFFFFF
    while True:
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        yield z ^ (z >> 31)


def permutation_params(num_hashes: int = 64, seed: int = 42):
    g = _splitmix64(seed)
    return [(next(g) % _PRIME or 1, next(g) % _PRIME) for _ in range(num_hashes)]


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 64,
                       hash_fn=None) -> DataFrame:
    """→ (id, sig array<bigint>). JVM-only expressions.

    ``hash_fn`` defaults to the fast JVM xxhash64; pass an
    SQL-replayable hash when the signatures themselves must be
    value-oracled in DuckDB."""
    params = permutation_params(num_hashes)
    if hash_fn is None:
        hash_fn = F.xxhash64
    tokens = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))

    # materialize the token-hash array in its OWN projection so the
    # sig expression never re-tokenizes/re-hashes the text per
    # permutation (lambda-bound subexpressions are not CSE'd)
    # pmod(h, PRIME) hoisted here: evaluated once per token instead of
    # once per (token × permutation) in the inner loop below (the
    # affine map gives identical residues either way)
    hashed = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.transform(tokens, lambda t: F.pmod(
            hash_fn(t), F.lit(_PRIME))).alias("_h"),
    )
    # the 64 permutations live in a LITERAL params array and are
    # evaluated by one nested-lambda expression (runtime loop), not 64
    # unrolled array_min(transform(...)) expressions: Janino compiles
    # one small method instead of 64 lambda classes (4x faster first
    # run) and the inner loop has better locality (~2x warm)
    pa = F.array(*[F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
                   for a, b in params])
    sig = F.transform(pa, lambda p: F.array_min(
        F.transform(F.col("_h"), lambda h: F.pmod(
            p["a"] * h + p["b"], F.lit(_PRIME)))))
    return hashed.select("id", sig.alias("sig"))


def lsh_candidate_pairs(sigs: DataFrame, bands: int = 16,
                        max_bucket: int = 64,
                        num_hashes: int | None = None) -> DataFrame:
    """(id, sig) → candidate pairs (a, b), a < b. One shuffle per
    plan (explode → groupBy band key).

    Pass ``num_hashes`` when known (the normal path) — probing it from
    the data costs an extra Spark job per call."""
    # LAZY plan barrier: the band keys below reference `sig` many
    # times; without a barrier Catalyst's CollapseProject inlines the
    # signature expression into every reference and recomputes the
    # whole 64-permutation transform per band key (measured 8x blowup).
    # eager=False materializes sigs exactly once inside the SAME
    # action — no extra job, lineage truncated (MEMORY_AND_DISK, so at
    # cluster scale oversized sig tables spill rather than OOM).
    sigs = sigs.localCheckpoint(eager=False)
    if num_hashes is not None:
        n = num_hashes
    else:
        first = sigs.select(F.size("sig").alias("n")).limit(1).collect()
        n = first[0]["n"] if first else 0
    if n == 0:
        return sigs.sparkSession.createDataFrame([], "a long, b long")
    r = max(n // bands, 1)
    band_cols = [
        F.xxhash64(F.concat_ws(",", *[
            F.element_at("sig", j * r + k + 1) for k in range(r)
        ])).alias("band%d" % j)
        for j in range(bands)
    ]
    banded = sigs.select("id", F.explode(F.array(
        *[F.struct(F.lit(j).alias("band"), band_cols[j].alias("key"))
          for j in range(bands)]
    )).alias("bk")).select("id", "bk.band", "bk.key")
    # skew guard BEFORE the collect: a single hot band key (e.g. every
    # empty/template page sharing one signature band) would otherwise
    # accumulate its full membership in ONE aggregation buffer — a
    # TypedImperativeAggregate buffer for a single group cannot spill,
    # so that's an executor OOM at crawl scale.  The guard is a WINDOW
    # count over (band, key): WindowExec buffers a group in a SPILLABLE
    # external sorter (disk, not an agg buffer), the filter drops
    # oversized keys, and the collect_list then never sees a group
    # larger than max_bucket.  One exchange feeds count, filter, and
    # collect — the window preserves the (band, key) partitioning, so
    # the groupBy below adds no second shuffle (plan-shape pinned by
    # test; the previous count + left-semi-join guard cost an extra
    # exchange because the partial count sits above its own shuffle).
    from pyspark.sql import Window

    w = Window.partitionBy("band", "key")
    buckets = (
        banded.withColumn("n_b", F.count("*").over(w))
        .filter((F.col("n_b") > 1) & (F.col("n_b") <= max_bucket))
        .groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
    )
    pairs = (
        buckets.select(F.explode(F.expr(
            "flatten(transform(ids, (x, i) -> "
            "transform(slice(ids, i + 2, size(ids)), y -> struct(x as a, y as b))))"
        )).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )
    return pairs


def jaccard_verify(pairs: DataFrame, docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", threshold: float = 0.7) -> DataFrame:
    """Exact token-set Jaccard on candidate pairs (JVM array ops)."""
    toks = fan_out(docs).select(
        F.col(id_col).alias("jid"),
        F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("toks"),
    )
    a = toks.withColumnRenamed("jid", "a").withColumnRenamed("toks", "toks_a")
    b = toks.withColumnRenamed("jid", "b").withColumnRenamed("toks", "toks_b")
    # pin shuffle-hash on the token side: size estimates for the token
    # arrays come from the (tiny) parquet file stats, so the optimizer
    # otherwise broadcasts the tokenized corpus — a driver-side build
    # of every document's token array (measured 4s → 26-56s swings in
    # the fused minhash job; unbounded at 100 TB). Shuffle-hash keeps
    # the big side distributed no matter what the estimates say.
    joined = (pairs.join(a.hint("shuffle_hash"), "a")
              .join(b.hint("shuffle_hash"), "b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size(F.array_union("toks_a", "toks_b"))
    return (
        joined.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def canonical_clusters(verified_pairs: DataFrame) -> DataFrame:
    """Verified near-dup pairs → (id, canonical) via connected
    components (min id wins)."""
    edges = verified_pairs.select(
        F.col("a").cast("string").alias("src"),
        F.col("b").cast("string").alias("dst"),
    )
    cc = connected_components(edges)
    return cc.select(F.col("node").alias("id"),
                     F.col("component").alias("canonical"))

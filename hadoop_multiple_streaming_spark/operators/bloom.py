"""Bloom-prefiltered exact anti-join — the blocklist/decontamination
screen at the scale where the probe set itself is too big to broadcast.

The exact forms already in the tree (`workloads.text.blocklist_screen`,
`operators.dedup.ngram_contamination`) broadcast the probe side; that
is the right plan up to a few hundred MB of probes. A production
blocklist or benchmark-contamination set can be 10^8+ keys — past
broadcast range — and the plain LeftAnti join then shuffles the ENTIRE
corpus on the key: at 100 TB, a 100 TB shuffle to discard <1% of rows.

This module implements the standard fix (a Bloom filter; Bloom, CACM
1970): build a FIXED-SIZE bitmap from the probe keys, pre-screen the
corpus against it at scan speed, and route ONLY the might-contain
fraction (true hits + ~0.1% false positives) through the exact
anti-join. Because a Bloom filter has no false negatives, the composed
result is EXACTLY the plain anti-join — hash-verifiable against a
`NOT EXISTS` oracle — while the corpus-wide shuffle shrinks to the
contaminated fraction.

Relationship to Spark's OWN runtime bloom-filter injection
(spark.sql.optimizer.runtime.bloomFilter.*, on by default since 3.3):
the optimizer injects the same pattern into shuffle equi-joins, but
only when its size estimates clear the thresholds — notably
creationSideThreshold (default 10 MB), which a production blocklist
exceeds by orders of magnitude. This operator (i) guarantees the
prefilter regardless of estimates, (ii) exposes the bitmap as a
driver-held, PERSISTABLE artifact (save_bloom/load_bloom) so streaming
micro-batches and repeated curation runs amortize one build instead of
re-aggregating the probe side per query, and (iii) provides the
join-free approximate screen (bloom_screen) for incremental-ingest
pipelines that tolerate the documented fpp, like the MinHash store.

Plan-shape note (measured, 20M-row corpus x 200k probes, local[8]):
Catalyst's PushLeftSemiLeftAntiThroughJoin canonicalizes anti-joins
BELOW inner joins, which silently re-hoists any within-plan prefilter
above the anti-join — the naive composition shuffled the full corpus
AND paid the bloom (9.5 s vs 7.5 s plain). The suspect sliver
therefore passes through a mapInPandas identity barrier (no optimizer
rule crosses an Arrow node; the sliver is ~fpp + hit-rate of the
corpus, so the Arrow cost is marginal): 2.9 s vs 7.5 s plain — and the
clean branch provably never shuffles.

Cost shape: the might-contain split scans the corpus twice (the
negative branch passes straight through scan -> filter -> output; the
positive branch re-scans and shuffles only its sliver). Two scans +
a sliver shuffle beats one scan + a full-corpus shuffle as soon as the
probe set outgrows broadcast — shuffle bytes cost several times scan
bytes (write + network + read + spill).

Determinism: positions are xxhash64(key, i) mod num_bits — fixed
seeds, engine-deterministic; the bitmap relation is a 1-row broadcast
(the percentile-bounds pattern), so plans stay readable.

Reference parity note: the reference engine has no blocklist operator
at all (hadoop-multiple-streaming is a streaming-pipe runner); this is
extension surface held to the 100 TB bar like the rest of the
training-data suite.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.io import HadoopFS

#: bitmap ceiling: 2^27 bits = 16 MiB — comfortably broadcastable and
#: enough for ~10^7 probe keys at ~16 bits/key; raise explicitly for
#: larger blocklists (128 MiB holds ~10^9 keys at 1e-3 FPR)
_MAX_BITS = 1 << 27
_MIN_BITS = 1 << 10


@dataclass(frozen=True)
class BloomFilterSpec:
    """A built bloom filter: the dense bitmap (as 64-bit words) plus
    the parameters needed to probe it. Driver-held, like a broadcast
    build side; ``num_bits/8`` bytes regardless of probe count."""

    words: list[int]
    num_bits: int
    num_hashes: int
    n_keys: int

    @property
    def fpp(self) -> float:
        """Expected false-positive probability for the built load."""
        return (1.0 - math.exp(-self.num_hashes * self.n_keys / self.num_bits)) ** self.num_hashes


def _positions(key: Column, num_bits: int, num_hashes: int) -> list[Column]:
    """The k bit positions of ``key``: xxhash64 with the round index as
    an extra hashed column (distinct, engine-deterministic hashes)."""
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits)).cast("long")
        for i in range(num_hashes)
    ]


def build_bloom(
    probes: DataFrame,
    key_col: str,
    num_bits: int | None = None,
    num_hashes: int = 5,
) -> BloomFilterSpec:
    """Aggregate the probe keys into a Bloom bitmap. Distributed build:
    keys explode to (word, bit-mask) pairs, a bit_or groupBy(word)
    reduces them (map-side partial — the shuffle is at most
    num_bits/64 rows no matter how many probe keys), and the <=2M-row
    word list collects to the driver like any broadcast build side.

    ``num_bits`` auto-sizes to ~16 bits/key (next power of two,
    clamped to [2^10, 2^27]) giving ~1e-3 false positives at k=5 —
    pass it explicitly for blocklists past ~10^7 keys."""
    if num_hashes < 1:
        raise ValueError(f"build_bloom: num_hashes must be >= 1, got {num_hashes}")
    n_keys = probes.select(key_col).count()
    if num_bits is None:
        target = max(_MIN_BITS, 16 * max(n_keys, 1))
        num_bits = min(_MAX_BITS, 1 << math.ceil(math.log2(target)))
    if num_bits % 64 != 0:
        raise ValueError(f"build_bloom: num_bits must be a multiple of 64, got {num_bits}")
    key = F.col(key_col)
    pos = F.explode(F.array(*_positions(key, num_bits, num_hashes))).alias("_pos")
    pairs = (
        probes.select(pos)
        .select(
            F.expr("_pos div 64").alias("_word"),
            # the python shiftleft wrapper only takes an int literal;
            # call the SQL function directly for a column shift amount
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), F.expr("cast(_pos % 64 as int)")
            ).alias("_mask"),
        )
        .groupBy("_word")
        .agg(F.bit_or("_mask").alias("_bits"))
        .collect()
    )
    words = [0] * (num_bits // 64)
    for r in pairs:
        words[r["_word"]] = r["_bits"]
    return BloomFilterSpec(
        words=words, num_bits=num_bits, num_hashes=num_hashes, n_keys=n_keys
    )


def might_contain(key: Column, bitmap: Column, bloom: BloomFilterSpec) -> Column:
    """True iff every one of the key's k bits is set in ``bitmap`` (an
    array<long> column holding the bloom words). No false negatives."""
    cond = None
    for p in _positions(key, bloom.num_bits, bloom.num_hashes):
        word = F.element_at(bitmap, (p / 64).cast("int") + F.lit(1))
        test = (
            F.call_function(
                "shiftright", word, F.pmod(p, F.lit(64)).cast("int")
            ).bitwiseAND(F.lit(1).cast("long"))
            == 1
        )
        cond = test if cond is None else cond & test
    return cond


def bloom_anti_join(
    corpus: DataFrame,
    key_col: str,
    probes: DataFrame,
    probe_key_col: str,
    bloom: BloomFilterSpec | None = None,
) -> DataFrame:
    """EXACT anti-join (keep corpus rows whose key does NOT appear in
    probes). With a caller-supplied ``bloom`` spec, a Bloom pre-screen
    shrinks the corpus-wide shuffle to the might-contain sliver:

      * bloom-NEGATIVE rows (no false negatives -> provably clean) are
        kept at scan speed, never shuffled;
      * bloom-POSITIVE rows (true hits + ~fpp false positives) go
        through the real LeftAnti join for the exact verdict.

    The union is bit-identical to ``corpus.join(probes, key, "left_anti")``
    — the bloom can only change WHERE rows are routed, never the
    answer — so a plain ``NOT EXISTS`` SQL oracle hash-verifies it.

    Cost gate (r13): with ``bloom=None`` this IS the plain LeftAnti
    join. A one-shot build cannot pay for itself — the build is a
    probe-side scan + collect, and the screen adds a second corpus
    branch plus the Arrow anti-pushdown barrier, all to save shuffle
    the plain join would do once anyway (measured at sf0.1: screen
    1.47 s even with a FREE spec vs 0.41 s plain). The screen wins
    only when the spec is AMORTIZED — prebuilt via
    :func:`build_bloom`, persisted via save_bloom/load_bloom, or
    maintained by the streaming ingest — and the corpus side is large
    enough that scan-speed routing of clean rows beats re-shuffling
    them every run. Callers who want the screen opt in by passing the
    spec; geometry lives with :func:`build_bloom`."""
    if "_bloom_bf" in corpus.columns or "_bloom_pk" in corpus.columns:
        raise ValueError(
            "bloom_anti_join: corpus already has a _bloom_bf/_bloom_pk"
            " column; rename it first"
        )
    if bloom is None:
        return corpus.join(
            probes.select(F.col(probe_key_col).alias("_bloom_pk")),
            F.col(key_col) == F.col("_bloom_pk"),
            "left_anti",
        )
    spark = corpus.sparkSession
    bf = spark.createDataFrame([(bloom.words,)], "_bloom_bf array<bigint>")
    with_bf = corpus.join(F.broadcast(bf))
    hit = might_contain(F.col(key_col), F.col("_bloom_bf"), bloom)
    clean = with_bf.where(~hit).select(*corpus.columns)
    suspects = with_bf.where(hit).select(*corpus.columns)
    # Arrow identity barrier: Catalyst's PushLeftSemiLeftAntiThroughJoin
    # would otherwise sink the anti-join BELOW the bitmap test (full
    # corpus shuffled, prefilter wasted — measured 9.5 s vs 2.9 s on
    # 20M rows); no rule crosses a MapInPandas node, and its input is
    # only the might-contain sliver
    suspects = suspects.mapInPandas(lambda it: it, schema=suspects.schema)
    pk = probes.select(F.col(probe_key_col).alias("_bloom_pk"))
    verified = suspects.join(
        pk, F.col(key_col) == F.col("_bloom_pk"), "left_anti"
    )
    return clean.unionByName(verified)


def bloom_screen(
    df: DataFrame, key_col: str, bloom: BloomFilterSpec
) -> DataFrame:
    """APPROXIMATE join-free screen: keep only rows whose key is a
    definite Bloom negative (drops every true member plus an ~fpp
    fraction of clean rows erroneously — acceptable wherever LSH-grade
    approximation already is, e.g. incremental ingest dedup gates).
    One broadcast of num_bits/8 bytes, zero shuffle, scan speed; pair
    with a persisted bitmap (save_bloom/load_bloom) to screen arriving
    micro-batches against everything ever ingested without touching a
    key store."""
    if "_bloom_bf" in df.columns:
        raise ValueError(
            "bloom_screen: input already has a _bloom_bf column; rename it"
        )
    spark = df.sparkSession
    bf = spark.createDataFrame([(bloom.words,)], "_bloom_bf array<bigint>")
    hit = might_contain(F.col(key_col), F.col("_bloom_bf"), bloom)
    return df.join(F.broadcast(bf)).where(~hit).select(*df.columns)


def merge_blooms(*blooms: BloomFilterSpec) -> BloomFilterSpec:
    """Bitwise-OR union of same-geometry bitmaps: the merged filter
    answers might_contain for the UNION of the key sets (Bloom filters
    are union-homomorphic under OR). Geometry (num_bits, num_hashes)
    must match — a mixed-geometry OR would silently answer wrong."""
    if not blooms:
        raise ValueError("merge_blooms: need at least one bloom")
    first = blooms[0]
    words = list(first.words)
    n_keys = first.n_keys
    for b in blooms[1:]:
        if (b.num_bits, b.num_hashes) != (first.num_bits, first.num_hashes):
            raise ValueError(
                "merge_blooms: geometry mismatch "
                f"({b.num_bits},{b.num_hashes}) != "
                f"({first.num_bits},{first.num_hashes})"
            )
        for i, w in enumerate(b.words):
            words[i] |= w
        n_keys += b.n_keys  # upper bound: duplicates across inputs overcount
    return BloomFilterSpec(
        words=words,
        num_bits=first.num_bits,
        num_hashes=first.num_hashes,
        n_keys=n_keys,
    )


def save_bloom(spark, bloom: BloomFilterSpec, path: str) -> None:
    """Persist the bitmap (one parquet row) so later runs / streaming
    micro-batches skip the build — the bloom analog of the MinHash
    (band, bucket) key store."""
    spark.createDataFrame(
        [(bloom.words, bloom.num_bits, bloom.num_hashes, bloom.n_keys)],
        "words array<bigint>, num_bits long, num_hashes int, n_keys long",
    ).write.mode("overwrite").parquet(path)


def _spec_from_row(r, words) -> BloomFilterSpec:
    """A stored bitmap row's geometry and key count around ``words``."""
    return BloomFilterSpec(
        words=list(words),
        num_bits=int(r["num_bits"]),
        num_hashes=int(r["num_hashes"]),
        n_keys=int(r["n_keys"]),
    )


def _fold_bitmaps(bitmaps: DataFrame, what: str) -> BloomFilterSpec | None:
    """The OR of every stored bitmap in ``bitmaps`` (save_bloom rows),
    folded on the executors: each bitmap explodes to (word index, word)
    and a bit_or groupBy(index) merges them (the fold build_bloom
    runs), so the driver only ever holds the ONE merged bitmap, however
    many batches the store has. Geometry comes from a |geometries|-row
    groupBy; more than one raises, as merge_blooms does (a mixed OR
    would answer wrong). n_keys is the sum, an upper bound like
    merge_blooms'. None when ``bitmaps`` is empty."""
    geoms = (
        bitmaps.groupBy("num_bits", "num_hashes")
        .agg(F.sum("n_keys").alias("n_keys"))
        .collect()
    )
    if not geoms:
        return None
    if len(geoms) != 1:
        found = sorted((int(r["num_bits"]), int(r["num_hashes"])) for r in geoms)
        raise ValueError(f"{what}: geometry mismatch across batches: {found}")
    words = [0] * (int(geoms[0]["num_bits"]) // 64)
    for r in (
        bitmaps.select(F.posexplode("words").alias("_i", "_w"))
        .groupBy("_i")
        .agg(F.bit_or("_w").alias("_b"))
        .collect()
    ):
        words[int(r["_i"])] = int(r["_b"])
    return _spec_from_row(geoms[0], words)


def compact_bloom_store(spark, store_path: str) -> BloomFilterSpec | None:
    """Fold a streaming ingest's per-batch bitmap subdirs
    (``store_path/batch_id=N/`` — streaming_bloom_screen's layout)
    into ONE merged bitmap under a fresh negative batch_id (-1, then
    -2, ...), deleting the originals. Bloom OR is exactly the union
    filter, so answers never change; run on a schedule to keep the
    store at one row + the newest batches.

    The NEWEST real batch (max non-negative batch_id) is always left
    out of the fold: ingest_bloom_batch's replay guard excludes a
    replayed batch's OWN bitmap by ``batch_id != current``, and a
    compaction that swallowed the newest batch before the stream's
    checkpoint committed it would make a crash-replay screen against a
    merged bloom containing its own keys — dropping every survivor and
    overwriting its output empty. Excluding the max id keeps
    compaction safe to run at ANY time, checkpoint committed or not
    (negative ids are prior compactions, always older, always safe).

    Crash-safe: the merged bitmap lands (staged hidden, then renamed)
    BEFORE any original is deleted, and a merged+originals overlap is
    harmless because OR-union is idempotent. All store mutations go
    through the Hadoop FileSystem API, so the store may live on HDFS /
    object stores, not just local disk. Returns the merged spec, or
    None when fewer than two foldable batches exist (no-op)."""
    store = spark.read.parquet(store_path)
    batch_ids = sorted(
        int(r["batch_id"])
        for r in store.select("batch_id").distinct().collect()
    )
    if not batch_ids:
        raise ValueError(f"compact_bloom_store: empty store at {store_path}")
    newest = batch_ids[-1]
    fold_ids = set(batch_ids[:-1]) if newest >= 0 else set(batch_ids)
    if len(fold_ids) < 2:
        return None
    merged = _fold_bitmaps(
        store.where(F.col("batch_id").isin([int(b) for b in fold_ids])),
        "compact_bloom_store",
    )
    # fresh descending target (-1, then -2, ...) so the rename never
    # lands inside an existing compaction dir; dot-prefixed staging is
    # hidden from partition discovery, so readers never see a
    # half-written bitmap or a malformed batch_id value
    target = min(batch_ids + [0]) - 1
    save_bloom(spark, merged, f"{store_path}/.compact.tmp")
    fs = HadoopFS(spark, store_path)
    fs.rename(f"{store_path}/.compact.tmp", f"{store_path}/batch_id={target}")
    # delete originals LAST: a crash anywhere here leaves merged +
    # originals coexisting, and OR-union is idempotent — readers get
    # the same answers; re-running the compaction finishes the cleanup
    for b in sorted(fold_ids):
        try:
            fs.delete(f"{store_path}/batch_id={b}")
        except Exception:
            pass
    return merged


def load_bloom(spark, path: str) -> BloomFilterSpec:
    """The bitmap save_bloom wrote at ``path``. A path that does not
    hold exactly one bitmap row (an empty dir, or a whole
    ``batch_id=`` store root) raises rather than pick one."""
    rows = spark.read.parquet(path).limit(2).collect()
    if len(rows) != 1:
        raise ValueError(
            f"load_bloom: {path} holds {'no' if not rows else 'more than one'} "
            "bitmap row; point it at one save_bloom path, or fold a store "
            "with compact_bloom_store"
        )
    return _spec_from_row(rows[0], rows[0]["words"])

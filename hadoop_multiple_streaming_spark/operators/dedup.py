"""Deduplication operators for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
near-dup — all DataFrame-native (no Python UDFs; every expression is
Catalyst/codegen-friendly).

Cross-engine determinism (so a SQL oracle can replay the math):
  * all hashing is md5 (identical hex everywhere);
  * MinHash uses per-seed lexicographic-min of md5(shingle + '#' + seed)
    instead of modular hash families — same power, portable;
  * SimHash bits come from md5 hex nibbles; bit sums are exact integer
    arithmetic;
  * embedding math quantizes floats to integers (round(x * 1e6)) so
    dot products and norms are EXACT (integer-valued doubles < 2^53
    stay exact under any summation order). That math — the cosine,
    the argmin, Lloyd and Gram kernels, the hash-ordered seed pick —
    lives once in operators.vectors; the k-means operators this module
    clusters with come from operators.similarity.

Scale notes (100 TB):
  * exact dedup = one hash-shuffle on the content hash (map-side
    partial combine applies); dedupe by min-id keeps a deterministic
    representative.
  * MinHash: cost = |shingles| x num_hashes md5 calls + one shuffle per
    groupBy(id, seed); band buckets join is the scale path — candidate
    pairs only, never the full O(n^2) pair space.
  * n-gram Jaccard self-join explodes on hot shingles — use it to
    VERIFY LSH candidates at scale, not to generate pairs from scratch.
  * SimHash per-doc cost is O(tokens x bits) integer ops but needs no
    pair join at all until the hamming comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.localrel import collect_bounded
from . import similarity
from .vectors import (
    _assign_argmin_np,
    _cosine,
    _gram_cosine_blocks,
    _hash_seeds,
    _lloyd_rounds,
    _quantize,
)

# ------------------------------------------------------------------ exact


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: one row per distinct key_cols content, keeping the
    smallest id as the deterministic representative (dropDuplicates
    keeps an arbitrary row — unusable for reproducible pipelines)."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt")
    )


def incremental_dedup(
    new_batch: DataFrame,
    store: DataFrame,
    key_cols: list[str],
    id_col: str,
) -> DataFrame:
    """Incremental exact dedup — the arriving-data form every rolling
    100 TB corpus needs: drop rows whose content key ALREADY exists in
    the persisted corpus ``store`` (left-anti join on ``key_cols``),
    then dedup within the batch itself (min-id representative, like
    exact_dedup). Returns one row per NEW distinct key:
    (key_cols..., keep_id, dup_cnt). Append the returned keys to the
    store and the invariant "store holds exactly one row per distinct
    key ever seen" is maintained batch over batch — no re-scan of the
    historical corpus beyond the join.

    Scale shape: the anti join shuffles the NEW batch (small) against
    the store's key column only — keep the store as a key-only parquet
    table, bucketed on the key (sources.io.write_table(bucket_by=...))
    so repeated daily batches join without re-shuffling the store
    side. The within-batch dedup rides the same hashpartitioning
    (ReusedExchange when key_cols match the join key)."""
    fresh = new_batch.join(store.select(*key_cols), key_cols, "left_anti")
    return exact_dedup(fresh, key_cols, id_col)


# ------------------------------------------------------------- shingling


def word_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles per document: (id, shingle). Tokenization =
    split on single space (documents are single-spaced); docs with
    fewer than n tokens produce no shingles.

    distinct=True dedups shingles per doc (REQUIRED for Jaccard — it's
    set math). Pass distinct=False for consumers invariant to
    duplicates (MinHash: the per-seed MIN doesn't change) — it skips a
    full |shingles|-row shuffle, the single biggest stage of the LSH
    pipeline at sf0.1.

    The token array is materialized in its own projection first — a
    lambda that re-splits the text per shingle index would be
    O(tokens^2) per document."""
    toks = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("_toks")
    )
    shingles = F.when(
        F.size(F.col("_toks")) >= n,
        F.expr(
            f"transform(sequence(1, size(_toks) - {n - 1}), "
            f"i -> array_join(slice(_toks, i, {n}), ' '))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = toks.select("id", F.explode(shingles).alias("shingle"))
    return out.distinct() if distinct else out


# -------------------------------------------------------------- minhash


def minhash_signatures(shingles: DataFrame, num_hashes: int = 16) -> DataFrame:
    """(id, sig): MinHash signature ARRAY — one full md5 per seed:
    element s = lexicographic min over the doc's shingles of
    md5(shingle + '#' + s), truncated to 16 hex chars (64 bits,
    collision-free at any realistic corpus size).

    Rejected alternatives: splitting each md5 digest into four 32-bit
    hashes measured SLOWER at sf0.1 (1.3 s vs 0.9 s warm for the
    signature stage — the conv(hex, 16, 10) string->long parse costs
    more than the md5 calls it saves); a Kirsch-Mitzenmacher h1+s*h2
    family inflates LSH candidate pairs ~6x (its correlated slots bias
    every slot's argmin shingle toward small (h1, h2)).

    Planned as: materialize the per-shingle digest array in
    its own projection (a lambda calling md5 inline would recompute it
    per array element), then ONE groupBy(id) with num_hashes separate
    MIN aggregates (one per seed), re-assembled into the signature
    array. The shuffle carries |shingles| rows, not |shingles| x
    num_hashes (measured ~3x at sf0.1), and — unlike a
    collect_list + fold formulation (same wall-clock at sf0.1) — the
    MINs partial-aggregate map-side with CONSTANT memory per group: a
    pathological many-shingle document costs 16 slots, not
    |shingles| x 16 buffered entries."""
    hashes = F.expr(
        f"transform(sequence(0, {num_hashes - 1}), "
        "s -> substring(md5(concat(shingle, '#', cast(s as string))), 1, 16))"
    )
    rows = shingles.select("id", hashes.alias("hs"))
    mins = rows.groupBy("id").agg(
        *[F.min(F.expr(f"hs[{s}]")).alias(f"_m{s}") for s in range(num_hashes)]
    )
    return mins.select(
        "id", F.array(*[F.col(f"_m{s}") for s in range(num_hashes)]).alias("sig")
    )


def fused_minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """(id, sig): word_shingles + minhash_signatures fused into ONE
    Arrow stage (optimization r16, VERDICT task 4) — per document the
    kernel tokenizes, builds the distinct word n-gram set, and folds
    the per-seed minima of md5(shingle + '#' + seed)[:16] directly,
    so the shingle explosion never materializes as rows and the
    signature needs no aggregation exchange at all: the plan is
    scan -> (spread) -> one MapInPandas -> banding, with the md5
    VALUES byte-identical to the expression path (hashlib.md5 over
    UTF-8 == Spark md5; '#'+seed suffix appended to the same bytes).
    Semantics replicated from the expression chain and pinned by
    test_fused_minhash_matches_expression_path:

      * tokenization is str.split(' ') == F.split(text, ' ') (empty
        tokens kept, consecutive spaces preserved in the join);
      * docs with < n tokens (or NULL text) emit NO row, exactly like
        explode-of-empty followed by groupBy;
      * the per-doc distinct-shingle set is free here (a Python set)
        and min-invariant, matching distinct=False + MIN.

    Interleaved A/B at sf0.1 (min of 6): 1.147 s (expression path) ->
    0.892 s, identical candidate pairs downstream. At 100 TB the
    kernel is the same one-pass-per-partition shape; only (id, sig)
    rows (16 x 16 hex chars) ever shuffle."""
    if n < 1:
        raise ValueError(f"fused_minhash_signatures: n must be >= 1, got {n}")
    if num_hashes < 1:
        raise ValueError(
            f"fused_minhash_signatures: num_hashes must be >= 1, got {num_hashes}"
        )

    def fn(it):
        import hashlib

        import pandas as pd

        md5 = hashlib.md5
        suf = [("#" + str(s)).encode() for s in range(num_hashes)]
        rng = range(num_hashes)
        for pdf in it:
            ids, sigs = [], []
            for doc_id, text in zip(
                pdf[id_col].tolist(), pdf[text_col].tolist()
            ):
                if text is None:
                    continue
                toks = text.split(" ")
                if len(toks) < n:
                    continue
                shingles = {
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                }
                mins = [None] * num_hashes
                for sh in shingles:
                    b = sh.encode()
                    for s in rng:
                        d = md5(b + suf[s]).hexdigest()[:16]
                        if mins[s] is None or d < mins[s]:
                            mins[s] = d
                ids.append(doc_id)
                sigs.append(mins)
            if not ids:
                # a batch where every doc dropped: yield nothing (an
                # empty untyped frame would arrow-fail on list<string>)
                continue
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids),
                    "sig": pd.Series(sigs, dtype="object"),
                }
            )

    # the id keeps its input type (minhash_signatures' groupBy does too)
    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField("sig", T.ArrayType(T.StringType())),
        ]
    )
    return df.select(id_col, text_col).mapInPandas(fn, out_schema)


def minhash_band_buckets(
    signatures: DataFrame, rows_per_band: int = 2
) -> DataFrame:
    """Band a signature array into LSH bucket keys -> (id, band,
    bucket): band b = signature elements [b*r, (b+1)*r), bucket =
    md5 of the band's values joined with ','. The shared banding step
    under lsh_candidate_pairs (within-corpus pairing) and
    minhash_store_hits (incremental batch-vs-store probing) — one
    definition so both sides of an incremental pipeline always bucket
    identically."""
    return signatures.select(
        "id",
        F.expr(
            f"posexplode(transform(sequence(0, size(sig) div {rows_per_band} - 1), "
            f"b -> md5(array_join(transform("
            f"slice(sig, b * {rows_per_band} + 1, {rows_per_band}), "
            f"v -> cast(v as string)), ','))))"
        ).alias("band", "bucket"),
    )


def minhash_store_hits(
    new_sigs: DataFrame,
    store_buckets: DataFrame,
    rows_per_band: int = 2,
) -> DataFrame:
    """Incremental NEAR-dup screening — the fuzzy twin of
    incremental_dedup: which arriving documents LSH-collide with the
    already-ingested corpus? ``store_buckets`` is the persisted (band,
    bucket) key set of everything seen so far (write
    minhash_band_buckets output per batch and append); a new document
    sharing ANY band bucket with the store is a near-dup suspect ->
    (id, n_hit_bands), n_hit_bands in [1, num_bands] doubling as a
    crude confidence. Run lsh_candidate_pairs on the batch itself for
    within-batch pairs; append the batch's own buckets to the store
    afterward and the invariant holds batch over batch.

    Scale shape: one left-semi join of the batch's exploded buckets
    against the store keys — at rest, keep the store parquet bucketed
    on `bucket` so daily batches probe without re-shuffling the store
    side; the store never needs the signatures themselves, only the
    (band, bucket) keys (16 bytes + band int per band per doc)."""
    nb = minhash_band_buckets(new_sigs, rows_per_band)
    hits = nb.join(
        store_buckets.select("band", "bucket").distinct(),
        ["band", "bucket"],
        "left_semi",
    )
    return hits.groupBy("id").agg(F.count(F.lit(1)).alias("n_hit_bands"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    rows_per_band: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature array (band b = elements [b*r, (b+1)*r)),
    hash each band to a bucket key, and emit distinct id pairs sharing
    any bucket. This is the LSH scale path — O(candidates), never the
    O(n^2) pair space.

    Planned as groupBy(band, bucket) + in-bucket pair expansion rather
    than a bucket self-join: a self-join would compute the whole
    shingle->signature pipeline TWICE (Spark does not reuse the common
    subplan across join sides; measured ~2x).

    Skew guard: a bucket of m near-identical docs expands to m(m-1)/2
    pairs in ONE task — at 100 TB a viral boilerplate bucket with
    m=1e5 would try to emit 5e9 structs in a single row. Set
    ``max_bucket_size`` (e.g. 10_000) to drop larger buckets: members
    of such a bucket are near-identical to huge cliques, so the pairs
    lost are recovered transitively through smaller buckets or, in a
    dedup pipeline, by the connected-components pass; monitor the
    dropped-bucket count via a `size(ids) > K` aggregation if recall
    accounting matters."""
    buckets = minhash_band_buckets(signatures, rows_per_band)
    grouped = buckets.groupBy("band", "bucket").agg(
        F.expr("array_sort(collect_list(id))").alias("ids")
    )
    keep = F.size("ids") >= 2
    if max_bucket_size is not None:
        keep = keep & (F.size("ids") <= max_bucket_size)
    return (
        grouped.where(keep)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), y -> struct(x, y))))"
                )
            ).alias("p")
        )
        .select(F.col("p.x").alias("id_a"), F.col("p.y").alias("id_b"))
        .distinct()
    )


# ------------------------------------------------------------- jaccard


#: standalone-mode sizes-broadcast gate (r15 opt): below this many
#: corpus documents the per-doc set-size relation (ONE row per doc,
#: two longs) is explicitly broadcast into the final ratio joins, so
#: the corpus-PAIR-scaled counts aggregate streams through them with
#: ZERO further exchanges. 2^17 docs ≈ a 2-3 MB hashed relation —
#: far under any broadcast hazard; above the cap the r12-measured
#: sort-merge pin stays (see the na/nb comment in _ngram_overlap_pairs).
_NGRAM_BROADCAST_SIZES_CAP = 1 << 17


def ngram_jaccard_pairs(
    shingles: DataFrame,
    threshold: float,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = None,
    expand_partitions: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Exact Jaccard over shingle sets: |A ∩ B| / |A ∪ B| >= threshold.
    With ``candidates`` (e.g. from lsh_candidate_pairs) the intersect
    join is restricted to candidate pairs — the 100 TB mode. Without,
    it self-joins on shingle (only sane at small scale / after LSH).

    ``max_doc_freq`` (CCNet / Lee et al. 2022 practice): shingles
    shared by more than this many documents are dropped from the
    shingle UNIVERSE — both the intersection counts and the per-doc
    set sizes, so Jaccard stays a true set ratio over the kept
    features (dropping from the numerator only would deflate every
    score). This bounds the pair expansion at
    n_shingles * cap*(cap-1)/2 regardless of corpus size — the
    governor the standalone mode needs at scale: a df-cap'd hot
    shingle carries ~zero IDF signal anyway. None = exact over all
    shingles (unbounded pairs; the sf8.0 bench DNF'd its 80 GB disk
    quota here before this arg existed).

    Physical plan: ONE groupBy(shingle) intermediate feeds both the
    pair intersection counts AND the per-doc set sizes (sizes =
    re-explode of the grouped id lists — collect_set keeps each
    (id, shingle) once, so the explode count IS the distinct-shingle
    count). The two branches share the hashpartitioning(shingle)
    Exchange, so Spark's ReuseExchange computes the shingle pipeline
    ONCE (a separate shingles.groupBy(id) sizes branch re-ran the
    whole text pipeline: measured ~25% of query time at sf0.1).
    collect_set also makes a pre-distinct'd shingle input unnecessary:
    pass word_shingles(distinct=False) and the per-doc dedup happens
    INSIDE this aggregation's map-side partial — no separate distinct
    Exchange over the full shingle multiset.

    ``n_docs`` (r15 opt): the caller-known corpus document count
    (cheap from parquet footer metadata). In standalone mode, when
    ``n_docs <= _NGRAM_BROADCAST_SIZES_CAP`` the doc-scaled sizes
    relation is broadcast instead of sort-merge-pinned — the
    pair-scaled counts side then streams through both ratio joins
    with no further exchange. None (default) or above-cap keeps the
    r12 sort-merge pin unchanged; results are identical either way
    (join strategy only)."""
    return _ngram_overlap_pairs(
        shingles, threshold, candidates, max_doc_freq, kind="jaccard",
        expand_partitions=expand_partitions, n_docs=n_docs,
    )


def ngram_containment_pairs(
    shingles: DataFrame,
    threshold: float,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = None,
    expand_partitions: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Exact CONTAINMENT over shingle sets: |A ∩ B| / min(|A|, |B|) >=
    threshold — the asymmetric near-dup measure (Broder's containment)
    that catches what Jaccard structurally misses: a short document
    fully quoted inside a long one scores containment 1.0 but Jaccard
    ~|A|/|B| (arbitrarily low as the host grows). Same physical plan,
    governors, and args as ngram_jaccard_pairs (one shared
    groupBy(shingle) Exchange feeding sizes + streamed pair expansion,
    optional candidates restriction, optional ``max_doc_freq`` cap,
    optional ``n_docs`` sizes-broadcast gate);
    only the final ratio differs. Returns (id_a, id_b, containment)."""
    return _ngram_overlap_pairs(
        shingles, threshold, candidates, max_doc_freq, kind="containment",
        expand_partitions=expand_partitions, n_docs=n_docs,
    )


def _ngram_overlap_pairs(
    shingles: DataFrame,
    threshold: float,
    candidates: DataFrame | None,
    max_doc_freq: int | None,
    kind: str,
    expand_partitions: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    if expand_partitions is not None:
        if expand_partitions < 1:
            raise ValueError(
                f"ngram pairs: expand_partitions must be >= 1, "
                f"got {expand_partitions}"
            )
        # USER-pinned shuffle width for the pair-expansion stage. AQE
        # coalesces post-shuffle partitions by COMPRESSED PRE-EXPANSION
        # bytes, but the two-Generate expansion multiplies rows after
        # the exchange: measured at sf4.0-zipf, AQE coalesced 32 -> 16
        # and one task holding the hottest near-cap shingle groups
        # straggled (best 83.6 s vs 45.9 s with full width — see
        # DEPLOY.md). An explicit repartition(n, col) is exempt from
        # AQE coalescing, and the groupBy below reuses its
        # hashpartitioning, so this adds NO extra exchange.
        shingles = shingles.repartition(expand_partitions, "shingle")
    grouped = shingles.groupBy("shingle").agg(
        F.expr("array_sort(collect_set(id))").alias("ids")
    )
    if max_doc_freq is not None:
        if max_doc_freq < 2:
            raise ValueError(
                f"ngram_jaccard_pairs: max_doc_freq must be >= 2, got {max_doc_freq}"
            )
        # filter sits ABOVE the shared groupBy(shingle) aggregate, so
        # both downstream branches (sizes + pair expansion) still reuse
        # the one hashpartitioning(shingle) Exchange
        grouped = grouped.where(F.size("ids") <= max_doc_freq)
    sizes = grouped.select(F.explode("ids").alias("id")).groupBy("id").agg(
        F.count(F.lit(1)).alias("n")
    )
    # co-occurrence via in-group pair expansion (no bucket self-join).
    # TWO chained Generates, not one flatten(transform(...)) explode:
    # the flattened form materializes the group's whole m(m-1)/2 pair
    # array as ONE value before exploding — this operator has no
    # bucket-size cap (exact Jaccard must see every pair), so a hot
    # shingle shared by m=16k docs meant a single 1 GiB humongous
    # allocation per task (measured at sf4.0: GCLocker retry storms,
    # 323 s). posexplode streams one (i, id_a) row at a time and the
    # inner explode slices partners per row, so peak per-row memory is
    # O(m) while the same pair multiset flows straight into the
    # counts aggregate's map-side partial.
    pos = grouped.where(F.size("ids") >= 2).select(
        "ids", F.posexplode("ids").alias("i", "id_a")
    )
    inter = pos.select(
        "id_a", F.explode(F.expr("slice(ids, i + 2, size(ids))")).alias("id_b")
    )
    if candidates is not None:
        inter = inter.join(candidates, ["id_a", "id_b"])
    counts = inter.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("c"))
    # sizes has ONE ROW PER DOCUMENT — corpus-scaled, so broadcasting
    # it is only safe under an EXPLICIT count gate (below; at 10B docs
    # an unconditional hint is an executor OOM). In the
    # candidates mode counts IS small by construction (bounded by the
    # LSH candidate set) and AQE may broadcast it. In the standalone
    # mode counts is corpus-PAIR-scaled — and AQE's broadcastability
    # estimate comes from COMPRESSED shuffle bytes, which lie badly on
    # this sorted (id_a, id_b, c) aggregate: at sf4.0 (400k docs) AQE
    # judged it under the 64 MB threshold and the broadcast collect
    # blew spark.driver.maxResultSize after 3 of 32 task results
    # (1.2 GiB partial; multi-GiB total). Both join sides are
    # corpus-scaled there, so pin sort-merge — the hint rides the
    # size frames so BOTH joins are pinned (a hint on counts alone
    # leaves the second join's equally-pair-scaled left side up to
    # AQE). (A pre-semi-join of sizes down to pair ids was measured
    # WORSE here: it re-evaluates the whole shingle pipeline a second
    # time for the pair-id set, +60% wall clock at sf0.1.)
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    if candidates is None:
        # r15 opt (guide §3.1): with a caller-supplied corpus doc count
        # under the cap, broadcast the (id, n) sizes relation — the
        # pair-scaled counts aggregate then flows into BOTH ratio joins
        # with zero further exchanges (it was re-shuffled by id_a and
        # again by id_b under the sort-merge pin). The hazard the merge
        # pin guards against is AQE broadcasting the PAIR-scaled counts
        # side off its lying compressed-bytes estimate; an explicit
        # broadcast of the doc-scaled sizes under a row-count gate is a
        # different relation with a hard bound. Above the cap (or with
        # no count supplied): the measured r12 pin, unchanged.
        if n_docs is not None and n_docs <= _NGRAM_BROADCAST_SIZES_CAP:
            na = F.broadcast(na)
            nb = F.broadcast(nb)
        else:
            na = na.hint("merge")
            nb = nb.hint("merge")
    if kind == "jaccard":
        measure = F.col("c").cast("double") / (
            F.col("na") + F.col("nb") - F.col("c")
        )
    elif kind == "containment":
        measure = F.col("c").cast("double") / F.least("na", "nb")
    else:  # pragma: no cover - internal
        raise ValueError(f"_ngram_overlap_pairs: unknown kind {kind!r}")
    return (
        counts.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", measure.alias(kind))
        .where(F.col(kind) >= threshold)
    )


# -------------------------------------------------------------- simhash


def simhash_fingerprints(
    df: DataFrame, text_col: str, id_col: str, bits: int = 64
) -> DataFrame:
    """SimHash: 64-bit fingerprint per document as a '0'/'1' string.
    bit_j = sign of sum over tokens of freq * (2*b_j(md5(token)) - 1),
    where b_j extracts bit j from the md5 hex nibble j//4. All-integer
    arithmetic: exact and engine-independent. Per-doc cost is
    O(distinct tokens x bits) with no joins — the cheapest near-dup
    sketch at 100 TB (pairing is hamming distance on fingerprints)."""
    freqs = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    contrib = F.expr(
        f"transform(sequence(0, {bits - 1}), j -> freq * (2 * ("
        "shiftright(instr('0123456789abcdef', substr(md5(tok), "
        "cast(j div 4 as int) + 1, 1)) - 1, 3 - cast(j % 4 as int)) % 2"
        ") - 1))"
    )
    return (
        freqs.select("id", contrib.alias("contrib"))
        .groupBy("id")
        .agg(
            F.expr(
                f"array_join(transform(aggregate(collect_list(contrib), "
                f"array_repeat(0L, {bits}), (acc, x) -> zip_with(acc, x, (p, q) -> p + q)), "
                "s -> case when s > 0 then '1' else '0' end), '')"
            ).alias("simhash")
        )
    )


def simhash_near_pairs(fps: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs of fingerprints within a hamming radius. Small-scale form
    (pairwise); at scale, block on bit-bands first (pigeonhole: any
    pair within hamming d shares at least one of d+1 equal-width
    bands) — same banding machinery as lsh_candidate_pairs."""
    a, b = fps.alias("a"), fps.alias("b")
    ham = F.expr(
        "size(filter(zip_with(split(a.simhash, ''), split(b.simhash, ''), "
        "(x, y) -> x <> y), v -> v))"
    )
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_banded_pairs(
    fps: DataFrame, max_hamming: int = 3, bands: int = 4
) -> DataFrame:
    """The 100 TB form of simhash_near_pairs: block on equal-width
    bit-bands (pigeonhole — any pair within hamming d < bands shares
    at least one identical band), expand pairs in-bucket, then verify
    the exact hamming distance only on candidates. O(candidates), no
    pairwise self-join; same grouped-expansion machinery as
    lsh_candidate_pairs (a bucket self-join would compute the
    fingerprint pipeline twice)."""
    width = 64 // bands
    buckets = fps.select(
        "id",
        "simhash",
        F.expr(
            f"posexplode(transform(sequence(0, {bands - 1}), "
            f"b -> substring(simhash, b * {width} + 1, {width})))"
        ).alias("band", "bucket"),
    )
    pairs = (
        buckets.groupBy("band", "bucket")
        .agg(F.expr("array_sort(collect_list(struct(id, simhash)))").alias("ms"))
        .where(F.size("ms") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ms, (x, i) -> "
                    "transform(slice(ms, i + 2, size(ms)), y -> struct(x, y))))"
                )
            ).alias("p")
        )
        .select(
            F.col("p.x.id").alias("id_a"),
            F.col("p.x.simhash").alias("sh_a"),
            F.col("p.y.id").alias("id_b"),
            F.col("p.y.simhash").alias("sh_b"),
        )
        .distinct()  # same pair can share several bands
    )
    ham = F.expr(
        "size(filter(zip_with(split(sh_a, ''), split(sh_b, ''), "
        "(x, y) -> x <> y), v -> v))"
    )
    return pairs.select("id_a", "id_b", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


# ------------------------------------------- embedding near-duplicates


def quantize_embeddings(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    scale: int = 1_000_000,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """(id, qv, n2[, keep_cols...]): integer-quantized vector
    (round(x * scale)) and its exact squared norm. All downstream
    dots/norms are exact integer-valued doubles — deterministic across
    engines and summation orders (values stay < 2^53)."""
    return df.select(
        F.col(id_col).alias("id"),
        _quantize(vec_col, scale).alias("qv"),
        *(keep_cols or []),
    ).withColumn("n2", F.expr("aggregate(qv, 0L, (a, x) -> a + x * x)"))


def dedup_clusters(pairs: DataFrame, max_iter: int = 10) -> DataFrame:
    """Connected components over near-dup pairs: assign every id the
    MINIMUM id reachable through the pair graph (label propagation to
    fixpoint) — turning pairwise matches into dedup groups where the
    min-id member is the canonical representative.

    Each iteration does a neighbor-min step AND a pointer-jumping step
    (label := label of my label), so the min label travels 2^i hops
    after i iterations — max_iter=10 covers component diameters up to
    ~1000, vs 10 for plain one-hop propagation. The early-exit
    convergence check stops as soon as a round changes nothing, so the
    exact fixpoint (what the recursive-CTE oracle computes) is reached
    for any diameter < 2^max_iter, not merely approached. For
    billion-edge graphs switch to the large-star/small-star variant;
    lineage is truncated per round via localCheckpoint.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for i in range(max_iter):
        # 1-hop: each node adopts the min label among itself and its
        # neighbors
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.id)
            .select(F.col("src").alias("id"), "label")
        )
        hop = (
            labels.unionByName(neighbor_labels)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        # pointer jumping: follow my label's label (path halving) —
        # turns O(diameter) convergence into O(log diameter)
        parent = hop.select(
            F.col("id").alias("p_id"), F.col("label").alias("p_label")
        )
        new_labels = (
            hop.join(parent, hop.label == parent.p_id, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("p_label", "label")).alias("label"),
            )
        )
        new_labels = new_labels.localCheckpoint()  # truncate lineage
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("id", F.col("label").alias("cluster_id"))


def rademacher_planes(num_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix for sign-LSH, derived from
    md5(f"{p}#{i}") (low bit of the first hex nibble). Computed
    driver-side ONCE and embedded as a constant in both the Arrow
    signature kernel and the SQL oracle — the planes are query
    constants, so no per-row hashing is ever paid for them."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{p}#{i}".encode()).hexdigest()[0], 16) & 1 else -1
            for i in range(dim)
        ]
        for p in range(num_planes)
    ]


def planes_duckdb_literal(planes: list[list[int]]) -> str:
    return "[" + ",".join(
        "[" + ",".join(str(c) for c in row) + "]" for row in planes
    ) + "]"


def _band_explode(bands: int, rows_per_band: int) -> Column:
    """posexplode of a ``sig`` bit string into (band, bucket): band b's
    bucket is its rows_per_band-character slice."""
    return F.expr(
        f"posexplode(transform(sequence(0, {bands - 1}), "
        f"b -> substring(sig, b * {rows_per_band} + 1, {rows_per_band})))"
    )


def _sign_signature_arrow(planes: list[list[int]]):
    """The sign-LSH signature of a ``qv`` column: one '1'/'0' per plane
    (bit = exact int64 dot with the plane > 0), as one int64 numpy
    matmul per Arrow batch (vectors x planes^T). Integer matmul is
    exact, so the bits replay in the DuckDB oracle. Measured 20x
    faster than the interpreted higher-order-function dot at 10k x 64
    planes (0.8 s vs 16 s); ArrowEvalPython is an allowed plan node
    (the hygiene gate bans only row-at-a-time BatchEvalPython)."""
    from pyspark.sql.functions import pandas_udf

    plane_rows = [list(pl) for pl in planes]

    @pandas_udf("string")
    def sig_udf(qv):
        import numpy as np
        import pandas as pd

        if len(qv) == 0:
            return pd.Series([], dtype="object")
        pm = np.array(plane_rows, dtype=np.int64).T  # dim x planes
        m = np.vstack(qv.map(np.asarray).to_numpy()).astype(np.int64, copy=False)
        bits = (m @ pm) > 0
        return pd.Series(
            ["".join("1" if b else "0" for b in row) for row in bits]
        )

    return sig_udf


def _bucket_verify_arrow(threshold: float, id_type: T.DataType):
    """Fused in-bucket pairwise verify: ONE Arrow stage per bucket
    stream. Each input row is a whole LSH bucket (array of (id, qv
    int32, n2) members, already size-capped); the kernel sorts members
    by id, computes the bucket's full pairwise int64 Gram matrix with
    one numpy matmul, applies the SAME double sqrt/multiply/divide the
    expression cosine evaluates (exact integer dots + correctly-rounded
    IEEE ops -> bit-identical cosines, test-asserted against
    embedding_cosine_pairs), and returns only the (id_a < id_b, cosine
    >= threshold) survivors, ids of ``id_type``. Transport: each
    distinct vector crosses the Arrow boundary once per bucket it
    belongs to — not once per candidate PAIR, which is what made the
    old join-back verify the catalog's Python-fence hotspot."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(
        T.ArrayType(
            T.StructType(
                [
                    T.StructField("id_a", id_type),
                    T.StructField("id_b", id_type),
                    T.StructField("cosine", T.DoubleType()),
                ]
            )
        )
    )
    def verify_udf(members):
        import numpy as np
        import pandas as pd

        out = []
        for bucket in members:
            ids, blocks = _gram_cosine_blocks(bucket)
            pairs = []
            for lo, cos in blocks:
                # only columns j > i survive (upper triangle), so each
                # pair is emitted exactly once
                bi, bj = np.nonzero(cos >= threshold)
                keep = bj > (bi + lo)
                pairs.extend(
                    (ids[i + lo], ids[j], float(cos[i, j]))
                    for i, j in zip(bi[keep], bj[keep])
                )
            out.append(pairs)
        return pd.Series(out)

    return verify_udf


def _bucket_keep_arrow(
    threshold: float, max_cluster_size: int | None, id_type: T.DataType
):
    """Fused in-cluster keep computation for semantic_dedup
    (optimization r15, guide §2.4): ONE Arrow stage per cluster stream
    computes each member's final keep flag directly — keep = false iff
    some SAME-CLUSTER member with a SMALLER id has cosine >= threshold
    — instead of emitting pairs, distinct-ing the drop ids, and
    left-joining them back to the corpus (which consumed the members
    relation twice and cost two extra exchanges + a join). The
    cosines come from the same Gram block generator as
    _bucket_verify_arrow (vectors._gram_cosine_blocks: exact int64
    dots, correctly-rounded IEEE double sqrt/multiply/divide).
    Clusters above ``max_cluster_size`` skip the Gram entirely and
    keep every member (a skew guard); singletons are trivially kept.
    Ids are emitted as ``id_type``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(
        T.ArrayType(
            T.StructType(
                [T.StructField("id", id_type), T.StructField("keep", T.BooleanType())]
            )
        )
    )
    def keep_udf(members):
        import numpy as np
        import pandas as pd

        out = []
        for bucket in members:
            m = len(bucket)
            if m < 2 or (max_cluster_size is not None and m > max_cluster_size):
                out.append([(x["id"], True) for x in bucket])
                continue
            ids, blocks = _gram_cosine_blocks(bucket)
            keep = np.ones(m, dtype=bool)
            for lo, cos in blocks:
                hi = lo + cos.shape[0]
                # member i is dropped iff any j < i (global id order)
                # matches; columns j >= row's global index are masked
                hit = cos >= threshold
                col = np.arange(m)[None, :]
                row = (np.arange(lo, hi))[:, None]
                keep[lo:hi] &= ~(hit & (col < row)).any(axis=1)
            out.append([(i, bool(k)) for i, k in zip(ids, keep)])
        return pd.Series(out)

    return keep_udf


def auto_band_params(
    n_vectors: int,
    threshold: float,
    bands: int = 8,
    cands_per_vector: int = 8,
    min_bits: int = 4,
    max_bits: int = 24,
) -> tuple[int, int, float]:
    """Sign-LSH band sizing from the DEPLOY.md collision law: a random
    pair collides per band with p = 2^-bits, so expected random
    candidates ~= bands * n^2 * 2^-bits. Pick the smallest bits that
    keeps that LINEAR in n (<= cands_per_vector * n):

        bits = clamp(ceil_log2(bands * n / cands_per_vector),
                     min_bits, max_bits)

    — integer-exact (ceil_log2(x) = (x-1).bit_length(), replayable in
    SQL as length(bin(x-1))), so an oracle can derive the same params
    from count(*). Returns (num_planes = bands * bits, rows_per_band =
    bits, expected_recall) where expected_recall is the standard
    1 - (1 - agree^bits)^bands advisory at ``threshold`` (agree =
    1 - arccos(t)/pi). Bits GROW with the corpus — the 4-bit default
    that was quadratic death at 20k vectors (measured: 494 s DuckDB /
    Spark OOM) is unreachable past n = cands_per_vector * 2^4 / bands.
    Recall at a fixed bands count falls as bits grow; raise ``bands``
    (planes cost one linear projection) rather than lowering bits
    (candidate explosion costs the job)."""
    import math

    n = max(int(n_vectors), 2)
    x = max((bands * n) // cands_per_vector, 2)
    bits = max(min_bits, min(max_bits, (x - 1).bit_length()))
    t = max(-1.0, min(1.0, float(threshold)))
    agree = 1.0 - math.acos(t) / math.pi
    recall = 1.0 - (1.0 - agree**bits) ** bands
    return bands * bits, bits, recall


def auto_cluster_count(
    n_rows: int,
    target_cluster_size: int = 200,
    min_k: int = 2,
    max_k: int | None = 1 << 16,
) -> int:
    """SemDeDup cluster-count sizing — the k-means analog of
    ``auto_band_params``: in-cluster pairing is quadratic in cluster
    size, so k must GROW with the corpus (k ~ n / target_cluster_size;
    Abbas et al. 2023 run 50k clusters on LAION). Integer-exact
    ceil-division + clamp,

        k = clamp(ceil(n / target), min_k, max_k)
          = GREATEST(min_k, LEAST(max_k, (n + target - 1) // target))

    so an oracle derives the SAME k from count(*) in SQL. Expected
    pairing work is then ~ n * target_cluster_size / 2 — LINEAR in n
    at fixed target size. This closes the manual-k footgun the
    round-7 catalog query shipped (k = 10 label fixture measured
    2.1x DuckDB at sf1.0+; k = n/200 measured 0.35x/0.25x).

    ``max_k`` bounds the FLAT path's driver-held centroid set and its
    n*k assignment work; ``max_k=None`` removes the cap — what the
    hierarchical path uses (its per-cell pairing contract needs the
    true k ~ n/target: capping k at 65536 would make coarse cells grow
    linearly with n past n = max_k*target, re-creating the quadratic
    in-cell work the two-level design exists to avoid)."""
    n = max(int(n_rows), 1)
    t = max(int(target_cluster_size), 1)
    k = max(min_k, (n + t - 1) // t)
    return k if max_k is None else min(max_k, k)


def _local_id(df: DataFrame) -> bool:
    """True when df.id is an integer or string type — the precondition
    for the driver-local seed replay (Python's str() of either is
    Spark's cast(id as string); float/decimal renderings are
    engine-specific, so those fall back to the distributed seeds)."""
    return isinstance(
        df.schema["id"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType),
    )


def _local_seed_cents(rows: list, k: int) -> list:
    """The k hash-ordered seed centroids from collected (id, qv) rows —
    vectors._hash_seeds' replay of ``row_number() OVER (ORDER BY
    md5(cast(id as string)), id) <= k``, with cluster = rank-1."""
    seeds = _hash_seeds([r["id"] for r in rows], k)
    return [(rank, [float(x) for x in rows[j]["qv"]]) for rank, j in enumerate(seeds)]


def auto_semantic_clusters(
    quantized: DataFrame,
    k: int,
    kmeans_iters: int = 2,
    dim: int = 64,
    carry: list[str] | None = None,
    local_rows: list | None = None,
) -> DataFrame:
    """Deterministic, SQL-replayable k-means clustering for
    ``semantic_dedup``'s auto path: seed centroids are the k input
    VECTORS with the smallest (md5(id), id) — a hash-ordered
    pseudo-random sample, replayable in any engine as
    ``row_number() OVER (ORDER BY md5(id), id) <= k`` — then
    ``kmeans_iters`` Lloyd rounds (operators.similarity.kmeans_lloyd,
    bit-identical across engines by its determinism contract).

    Plan shape: the seed pick is a sort-LIMIT —
    TakeOrderedAndProject, per-partition top-k merged on the driver,
    bounded by k, NO corpus sort — and the cluster-id assignment is a
    window over the k already-limited rows (k rows on one partition by
    design; never the corpus). Assignment itself is kmeans_lloyd's
    shuffle-free broadcast-centroid argmin projection."""
    carry = [c for c in (carry or []) if c != "id"]
    # r15 local fast path (guide §1.2 step 1): seeds + every Lloyd
    # update round computed on the driver from ONE bounded collect —
    # replaces the seed-collect job and the per-round aggregate jobs.
    # Bit-identical: _local_seed_cents replays the hash-ordered
    # row_number seed pick, _lloyd_local_cents the update math.
    rows = local_rows
    if rows is None and _local_id(quantized):
        rows = collect_bounded(
            quantized.select("id", "qv"), similarity._LOCAL_KMEANS_CAP
        )
    if rows is not None:
        cent_rows = _local_seed_cents(rows, k)
        cent_rows = similarity._lloyd_local_cents(
            [list(r["qv"]) for r in rows], cent_rows, kmeans_iters, dim
        )
        return similarity.kmeans_assign_frame(quantized, cent_rows, carry=carry)

    seeds = (
        quantized.select(
            "id", "qv", F.md5(F.col("id").cast("string")).alias("_h")
        )
        .orderBy("_h", "id")
        .limit(int(k))
    )
    init = seeds.select(
        (F.row_number().over(Window.orderBy("_h", "id")) - 1).cast("long").alias("cluster"),
        F.expr("transform(qv, x -> cast(x as double))").alias("c"),
    )
    return similarity.kmeans_lloyd(
        quantized.select("id", "qv", *[c for c in carry if c != "qv"]),
        init,
        iters=kmeans_iters,
        dim=dim,
        carry=carry,
    )


def coarse_cluster_count(k: int) -> int:
    """Coarse-level cluster count for hierarchical (coarse-fine)
    clustering: k1 = 2^ceil(ceil_log2(k) / 2) — the power of two
    nearest above sqrt(k), so k1 >= sqrt(k) always (k <= 2^L implies
    k1^2 = 2^(2*ceil(L/2)) >= 2^L >= k). Integer-exact and
    SQL-replayable from count(*) exactly like auto_band_params:
    ceil_log2(k) = (k-1).bit_length() = LENGTH(bin(k-1)) in SQL, so

        k1 = 1 << ((LENGTH(bin(k - 1)) + 1) // 2)

    Splitting k ~ sqrt/sqrt minimizes two-level assignment work:
    coarse costs n*k1, fine costs ~n*(k/k1); the sum is minimal at
    k1 = sqrt(k), giving ~2*n*sqrt(k) total vs flat's n*k."""
    k = max(int(k), 2)
    L = (k - 1).bit_length()
    return 1 << ((L + 1) // 2)


def _fine_lloyd_cells(target_cluster_size: int, iters: int, carry: list[str] | None = None):
    """Per-coarse-cell fine k-means for hierarchical_semantic_clusters
    — one Arrow stage per cell (applyInPandas), NO driver-side fine
    centroids (at 10^10 docs the fine codebook is GBs; keeping each
    cell's centroids inside its own task is the only shape that
    scales). The math replays the engine's oracle-exact Lloyd contract
    bit for bit, on the operators.vectors kernels:

      * seeds = the cell's k2 vectors with the smallest (md5(id), id),
        k2 = max(1, ceil(cell_n / target)) — SQL: row_number() OVER
        (PARTITION BY coarse ORDER BY md5(id), id) <= k2; fine id =
        seed rank;
      * ``iters - 1`` Lloyd rounds (_lloyd_rounds), then the final
        assignment (_assign_argmin_np: dim-sequential squared-L2 fold,
        ties to the smallest fine id); empty fine clusters drop out.

    Emits (id, cluster = coarse * 2^32 + fine) — the composite is
    collision-free (fine < 2^32 always; coarse < 2^31) and replayable
    as plain bigint arithmetic."""

    def fn(pdf):
        import numpy as np
        import pandas as pd

        coarse = int(pdf["coarse"].iloc[0])
        ids = pdf["id"].to_numpy()
        M = np.vstack(pdf["qv"].map(np.asarray).to_numpy()).astype(np.int64)
        k2 = max(1, -(-len(pdf) // target_cluster_size))
        seeds = M[_hash_seeds(ids, k2)].astype(np.float64)
        cent_ids, cents = _lloyd_rounds(M, np.arange(k2), seeds, iters - 1)
        assign = _assign_argmin_np(M.astype(np.float64), cent_ids, cents)
        out = {"id": ids, "cluster": (coarse << 32) + assign}
        for c in carry or []:  # column passthrough — same-row values
            out[c] = pdf[c].to_numpy()
        return pd.DataFrame(out)

    return fn


def hierarchical_semantic_clusters(
    quantized: DataFrame,
    k: int,
    target_cluster_size: int = 200,
    kmeans_iters: int = 2,
    dim: int = 64,
    carry: list[str] | None = None,
    local_rows: list | None = None,
) -> DataFrame:
    """Coarse-fine (two-level) clustering for semantic_dedup — the
    scale path that replaces flat k-means' n*k assignment term with
    ~2*n*sqrt(k):

      level 1: k1 = coarse_cluster_count(k) ~ sqrt(k) centroids via
        the same hash-ordered-seed Lloyd as the flat auto path
        (auto_semantic_clusters; broadcast-argmin projection, zero
        corpus shuffle per iteration);
      level 2: each coarse cell fine-clusters INDEPENDENTLY inside one
        Arrow task (_fine_lloyd_cells) with k2 = ceil(cell_n / target)
        seeds — cost sum(cell_n * k2) ~ n * k/k1 ~ n*sqrt(k).

    The whole fine level is ONE groupBy(coarse) shuffle; fine
    centroids never leave their cell's task (no driver codebook — at
    10^10 docs flat auto-k needs ~5*10^7 centroids = 25 GB, which can
    neither broadcast nor fit the n*k assignment budget; SemDeDup's
    published recipe is exactly this coarse quantization, Abbas et al.
    2023 §3 run their clustering sharded per cluster). Deterministic
    and SQL-replayable end to end: coarse ids from hash-ordered
    row_number, fine seeds from per-cell hash-ordered row_number, all
    Lloyd math under the engine's bit-identity contract, composite id
    = coarse * 2^32 + fine. Callers must pass the TRUE k ~ n/target
    (semantic_dedup derives it with max_k=None): expected cell size is
    then n/k1 ~ sqrt(n*target) — at 10^10 docs/target 200 that is
    ~1.4M rows (~0.7 GB of int64 vectors) and ~7k fine seeds per task,
    heavy but bounded SUBLINEARLY in n; a capped k would instead grow
    cells linearly with n past n = max_k*target, re-creating in-cell
    quadratic work. Skew note: a pathological coarse cell bounds one
    task at cell_n rows (64-dim int64 ~ 0.5 KB/row); the downstream
    pairing's max_cluster_size guard is unaffected."""
    k1 = coarse_cluster_count(k)
    coarse = auto_semantic_clusters(
        quantized, k1, kmeans_iters=kmeans_iters, dim=dim,
        carry=["qv"] + [c for c in (carry or []) if c not in ("id", "qv")],
        local_rows=local_rows,
    ).withColumnRenamed("cluster", "coarse")
    # the coarse assignment CARRIES qv (and any caller columns) through
    # its projection instead of joining the (id, coarse) result back to
    # the corpus on id (r15, guide §2.4): the join was a whole extra
    # corpus exchange/broadcast and re-evaluated the assignment kernel
    # inside the build side
    carry = [c for c in (carry or []) if c != "id"]
    carry_ddl = "".join(
        ", " + f.name + " " + f.dataType.simpleString()
        for f in quantized.schema.fields
        if f.name in carry
    )
    id_ddl = quantized.schema["id"].dataType.simpleString()
    return coarse.groupBy("coarse").applyInPandas(
        _fine_lloyd_cells(target_cluster_size, kmeans_iters, carry=carry),
        schema=f"id {id_ddl}, cluster long" + carry_ddl,
    )


def embedding_lsh_pairs(
    quantized: DataFrame,
    threshold: float,
    num_planes: int | None = None,
    rows_per_band: int | None = None,
    dim: int = 64,
    max_bucket_size: int | None = None,
    n: int | None = None,
) -> DataFrame:
    """Random-hyperplane (sign) LSH near-dup pairs over embeddings —
    the scale path that replaces embedding_cosine_pairs' O(n²)
    self-join: bucket vectors by band of sign bits
    (bit_p = 1 iff qv · plane_p > 0; P(bits agree) = 1 - angle/π),
    expand candidate pairs in-bucket, then verify the EXACT quantized
    cosine only on candidates.

    Plan shape: one Arrow projection computes all num_planes sign bits
    per row (_sign_signature_arrow: one int64 numpy matmul per batch
    against the plane constants, no join for the sketch), then the
    verify is FUSED into the bucket aggregation — the vectors ride the
    one groupBy(band, bucket) shuffle (int32 transport) and each
    bucket's pairwise cosines come from a single numpy Gram matmul
    inside one Arrow stage (_bucket_verify_arrow): 2 Python fences,
    zero verify joins. Exact integer dots and correctly-rounded double
    sqrt/multiply/divide make the cosines bit-identical to
    embedding_cosine_pairs (test-asserted); ids keep their own type
    (integers or strings). Measured on the synthetic 64-dim test embeddings
    (threshold 0.45, 32 planes, 8 bands x 4 rows): recall 13/14 at
    sf0.01 and 119/144 at sf0.1 vs the exact pairwise truth, with
    candidates at ~40% of the brute-force pair space; real near-dup
    corpora (cosine ≥ 0.9) sit far above the threshold the band
    geometry is tuned for here, where both recall and pruning improve
    sharply. Tune (num_planes, rows_per_band) to the target threshold:
    recall = 1 - (1 - agree^rows)^bands.

    SCALE RULE (measured, see DEPLOY.md): random-pair collision per
    band is 2^-rows_per_band, so the candidate count is
    ~ bands * n^2 * 2^-rows_per_band — bits per band MUST grow with
    the corpus or the pair expansion goes quadratic on any engine
    (20k vectors at 4-bit bands was measured at 494 s DuckDB / Spark
    OOM; billions need ~24-bit). Extra planes are one linear
    projection — always cheaper than candidate explosion. When
    ``num_planes``/``rows_per_band`` are NOT given, the sizing is
    AUTOMATIC via auto_band_params: bits = ceil_log2 of the corpus
    count (quadratic death unreachable by default), with the count
    taken from ``n`` if supplied, else ONE cheap count() agg over
    ``quantized`` (the only eager step in this module — pass ``n`` to
    keep construction fully lazy). Give BOTH parameters to pin the
    geometry explicitly (every catalog query does, so its SQL oracle
    can embed the matching plane literal).

    ``max_bucket_size`` is the same viral-bucket skew guard as
    lsh_candidate_pairs (a bucket of m members compares m(m-1)/2 pairs
    in one task)."""
    if (num_planes is None) != (rows_per_band is None):
        raise ValueError(
            "embedding_lsh_pairs: give BOTH num_planes and rows_per_band, "
            "or NEITHER (auto sizing via auto_band_params)"
        )
    if num_planes is None:
        if n is None:
            n = quantized.count()
        num_planes, rows_per_band, _recall = auto_band_params(n, threshold)
    planes = rademacher_planes(num_planes, dim)
    bands = num_planes // rows_per_band
    # the vectors ride the one groupBy(band, bucket) shuffle as int32
    # (quantized coordinates are round(x * 1e6) of unit-normalized
    # floats, so |v| < 2^31 always; the kernel upcasts to int64 before
    # the dot, keeping it exact). Each distinct vector crosses the
    # Python boundary once per band instead of once per candidate
    # pair. Duplicate pairs from buckets sharing several bands
    # re-verify (~2µs of deterministic arithmetic, identical row) and
    # collapse in the tiny post-filter distinct.
    buckets = quantized.select(
        "id",
        F.col("qv").cast("array<int>").alias("qv"),
        "n2",
        _sign_signature_arrow(planes)(F.col("qv")).alias("sig"),
    ).select("id", "qv", "n2", _band_explode(bands, rows_per_band).alias("band", "bucket"))
    grouped = buckets.groupBy("band", "bucket").agg(
        F.collect_list(F.struct("id", "qv", "n2")).alias("members")
    )
    keep = F.size("members") >= 2
    if max_bucket_size is not None:
        keep = keep & (F.size("members") <= max_bucket_size)
    verify = _bucket_verify_arrow(threshold, quantized.schema["id"].dataType)
    return (
        grouped.where(keep)
        .select(F.explode(verify(F.col("members"))).alias("p"))
        .select("p.id_a", "p.id_b", "p.cosine")
        .distinct()
    )


def embedding_lsh_buckets(
    quantized: DataFrame,
    num_planes: int,
    rows_per_band: int,
    dim: int = 64,
) -> DataFrame:
    """The (id, band, bucket) sign-LSH key relation standalone — what
    embedding_lsh_pairs computes internally, exposed so an INCREMENTAL
    pipeline can persist it as the at-rest key store (the embedding
    analog of minhash_band_buckets; bucket = rows_per_band sign bits
    as a bit string). One Arrow projection (the same signature kernel
    as embedding_lsh_pairs), no shuffle."""
    if num_planes % rows_per_band != 0:
        raise ValueError(
            f"embedding_lsh_buckets: rows_per_band {rows_per_band} must "
            f"divide num_planes {num_planes}"
        )
    bands = num_planes // rows_per_band
    sig = _sign_signature_arrow(rademacher_planes(num_planes, dim))(F.col("qv"))
    return quantized.select("id", sig.alias("sig")).select(
        "id", _band_explode(bands, rows_per_band).alias("band", "bucket")
    )


def embedding_lsh_store_hits(
    new_quantized: DataFrame,
    store_buckets: DataFrame,
    num_planes: int,
    rows_per_band: int,
    dim: int = 64,
) -> DataFrame:
    """Incremental embedding near-dup screening — completes the
    incremental-ingest matrix (exact: incremental_dedup, text fuzzy:
    minhash_store_hits, exact-key approximate: bloom_screen): which
    arriving vectors sign-LSH-collide with the already-ingested
    corpus? ``store_buckets`` is the persisted (band, bucket) key set
    (embedding_lsh_buckets output appended per batch, SAME geometry).
    Returns (id, n_hit_bands), n_hit_bands in [1, bands] as a crude
    confidence — run the exact cosine verify on suspects only.

    Scale shape: identical to minhash_store_hits — one left-semi join
    of the batch's keys against the store; keep the store parquet
    bucketed on `bucket` so daily batches probe without re-shuffling
    the store side. The store holds rows_per_band-char bit strings +
    a band int per band per vector; never the vectors themselves."""
    nb = embedding_lsh_buckets(new_quantized, num_planes, rows_per_band, dim)
    hits = nb.join(
        store_buckets.select("band", "bucket").distinct(),
        ["band", "bucket"],
        "left_semi",
    )
    return hits.groupBy("id").agg(F.count(F.lit(1)).alias("n_hit_bands"))


#: flat-vs-hierarchical auto switch: past this many n*k assignment
#: cells the flat path's nearest-centroid work (n rows x k centroids
#: x dim fused-multiply-adds) is the catalog's only superlinear curve
#: (measured 25.7 -> 65.9 s per corpus doubling at sf4->8, CROSSOVER.md)
#: — 2^28 keeps every family's measured flat row (<= sf4.0) on the
#: oracle-simplest path and routes anything bigger to coarse-fine.
FLAT_ASSIGN_BUDGET = 1 << 28


def semantic_dedup(
    quantized: DataFrame,
    clusters: DataFrame | None = None,
    threshold: float = 0.9,
    max_cluster_size: int | None = None,
    target_cluster_size: int = 200,
    kmeans_iters: int = 2,
    n: int | None = None,
    dim: int = 64,
    flat_assign_budget: int = FLAT_ASSIGN_BUDGET,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (public method: Abbas et
    al. 2023, arXiv:2303.09540 — the standard LLM-corpus curation step
    after exact/MinHash dedup): k-means the embedding space, then
    prune near-identical pairs ONLY within clusters, so pairing is
    O(sum of cluster_size^2) = ~n^2/k instead of O(n^2). The embedding
    twin of MinHash dedup: clusters play the role of LSH buckets, with
    the clustering done by ``kmeans_lloyd`` (or any (id, cluster)
    assignment the caller provides).

    Inputs: ``quantized`` = (id, qv, n2) from quantize_embeddings;
    ``clusters`` = (id, cluster), or None (the DEFAULT) to cluster
    automatically: k = ``auto_cluster_count(n, target_cluster_size)``
    (integer-exact, oracle-replayable from count(*)) with
    hash-ordered data-point seeds + ``kmeans_iters`` Lloyd rounds
    (``auto_semantic_clusters``) — pass ``n`` to skip the one eager
    count() the sizing law otherwise pays. Returns (id, cluster,
    keep), one row per id present in ``clusters`` (an INNER join: ids
    absent from a caller-provided ``clusters`` frame are not returned
    — under the auto default every input id is assigned, so the
    output covers every input id): keep = false iff some same-cluster
    member with a SMALLER id has cosine >= threshold — the
    deterministic min-id representative rule (the paper keeps
    low-centroid-similarity exemplars; min-id is the hash-stable
    equivalent and what exact_dedup uses).

    Plan shape: pairing is keyed by ``cluster`` — one groupBy(cluster)
    shuffle carrying int32 vectors, then one Arrow stage per cluster
    stream computes every member's keep flag from a numpy Gram matmul
    (_bucket_keep_arrow: exact integer dots, correctly-rounded IEEE
    cosine, the SQL replay's value bit for bit) — no joins, never a
    cartesian product. Ids keep their own type (integers or strings).

    SCALE RULE: k must grow with the corpus (k ~ n / target_cluster
    _size; the paper runs 50k clusters on LAION) — in-cluster pairing
    is quadratic in cluster size, so ``max_cluster_size`` skips
    pathological clusters entirely (their members all stay keep=true,
    a skew guard identical in spirit to LSH's max_bucket_size). The
    auto default enforces this rule by construction — manual sizing is
    now opt-in, exactly like embedding_lsh_pairs after
    auto_band_params.

    Automatic clustering (``clusters`` not given) is single-level
    k-means with k centroids (auto_semantic_clusters; assignment work
    n*k — fine until k grows with the corpus, superlinear past it)
    while n*k <= ``flat_assign_budget``, and coarse-fine two-level
    clustering (hierarchical_semantic_clusters, ~2*n*sqrt(k)) past it
    — the in-operator guard that keeps the default path off the
    superlinear curve at ANY corpus size (a 10^10-doc corpus at
    target 200 implies k = 5*10^7: flat assignment would be 5*10^17
    multiply-accumulates; the budget reroutes it); a budget of 0 sends
    every non-empty corpus down the two-level path. The hierarchical
    path derives k UNCAPPED (auto_cluster_count max_k=None): the
    65536 cap exists to bound flat's driver codebook and n*k work,
    and honoring it here would grow coarse cells linearly with n —
    uncapped, cells stay ~sqrt(n*target) at any corpus size."""
    if clusters is None:
        # r15: ONE guarded CollectLimit replaces the sizing count()
        # AND feeds the driver-local seed/Lloyd fast path downstream
        # (auto_semantic_clusters); at scale the probe early-stops and
        # every distributed shape is unchanged
        local_rows = (
            collect_bounded(
                quantized.select("id", "qv"), similarity._LOCAL_KMEANS_CAP
            )
            if _local_id(quantized)
            else None
        )
        if n is not None:
            n_rows = n
        elif local_rows is not None:
            n_rows = len(local_rows)
        else:
            n_rows = quantized.count()
        k = auto_cluster_count(n_rows, target_cluster_size)
        if n_rows * k > flat_assign_budget:
            # UNCAPPED k for the two-level path: auto_cluster_count's
            # max_k bounds flat's driver codebook / n*k work, neither
            # of which the hierarchical path has. Keeping the cap here
            # would let coarse cells grow linearly with n past
            # n = max_k*target (cell-local fine work back to
            # quadratic); uncapped, expected cell size stays
            # ~sqrt(n*target) at any corpus size. The budget routing
            # above crosses at n ~ sqrt(budget*target) — far below
            # where the cap binds — so the decision itself is
            # cap-invariant.
            k_hier = auto_cluster_count(n_rows, target_cluster_size, max_k=None)
            clusters = hierarchical_semantic_clusters(
                quantized,
                k_hier,
                target_cluster_size=target_cluster_size,
                kmeans_iters=kmeans_iters,
                dim=dim,
                carry=["qv", "n2"],
                local_rows=local_rows,
            )
        else:
            clusters = auto_semantic_clusters(
                quantized, k, kmeans_iters=kmeans_iters, dim=dim,
                carry=["qv", "n2"],
                local_rows=local_rows,
            )
    # the assignment is a pure projection of ``quantized`` — when the
    # clustering frame already CARRIES (qv, n2) on the same row (the
    # auto paths above, or a caller using kmeans_lloyd's carry=), take
    # members straight from it instead of joining the (id, cluster)
    # result back to the corpus on id (r15, guide §2.4: that join was
    # an extra corpus exchange/broadcast per query and re-evaluated
    # the assignment inside the join's build side)
    if {"qv", "n2"} <= set(clusters.columns):
        members = clusters.select("id", "qv", "n2", "cluster")
    else:
        members = quantized.select("id", "qv", "n2").join(clusters, "id")
    # FUSED single-pass shape (r15, guide §2.4): the per-cluster kernel
    # emits each member's final keep flag directly, so the members
    # relation is consumed ONCE — 1 Exchange, 0 joins (a pair explode,
    # a drops DISTINCT and a left join back cost 3 Exchanges + 3 joins)
    grouped = members.select(
        "cluster",
        F.struct("id", F.col("qv").cast("array<int>").alias("qv"), "n2").alias("_m"),
    ).groupBy("cluster").agg(F.collect_list("_m").alias("members"))
    keep = _bucket_keep_arrow(
        threshold, max_cluster_size, members.schema["id"].dataType
    )
    return grouped.select(
        "cluster", F.explode(keep(F.col("members"))).alias("_r")
    ).select(F.col("_r.id").alias("id"), "cluster", F.col("_r.keep").alias("keep"))


def embedding_cosine_pairs(
    quantized: DataFrame, threshold: float, max_rows: int | None = 100_000
) -> DataFrame:
    """All pairs with cosine >= threshold (exact quantized cosine).

    This is the O(n^2) VERIFY stage — its intended caller buckets
    vectors first (embedding_lsh_pairs / similarity.ivf_topk) and
    verifies only candidates with this cosine. Standalone all-pairs use
    is guarded: past ``max_rows`` input rows the plan raises AT
    EXECUTION TIME instead of running an n^2 join that can never
    finish on a 100 TB corpus. Pass ``max_rows=None`` to explicitly
    opt in to small-scale all-pairs mode. The guard lives IN the plan
    (a broadcast 1-row count over a ``limit(max_rows + 1)`` subquery
    checked with ``raise_error`` on each input row before the pair
    join) — construction stays lazy like every other operator here,
    and limit pushdown keeps the guard scan at max_rows + 1 rows."""
    if max_rows is not None:
        guard_n = quantized.limit(max_rows + 1).agg(
            F.count(F.lit(1)).alias("_guard_n")
        )
        quantized = (
            quantized.crossJoin(F.broadcast(guard_n))
            .withColumn(
                "id",
                F.when(F.col("_guard_n") <= max_rows, F.col("id")).otherwise(
                    F.raise_error(
                        F.lit(
                            f"embedding_cosine_pairs: input exceeds "
                            f"{max_rows} rows; an all-pairs cosine join is "
                            "O(n^2) and will not scale. Bucket first "
                            "(embedding_lsh_pairs / ivf_topk) and verify "
                            "candidates, or pass max_rows=None to force "
                            "small-scale all-pairs mode."
                        )
                    )
                ),
            )
            .drop("_guard_n")
        )
    a, b = quantized.alias("a"), quantized.alias("b")
    cos = _cosine("a.qv", "b.qv", "a.n2", "b.n2")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def substring_matches(
    corpus: DataFrame,
    probes: DataFrame,
    corpus_text: str = "text",
    corpus_id: str = "doc_id",
    probe_text: str = "text",
    probe_id: str = "doc_id",
    k: int = 8,
    anchor: str = "rarest",
    broadcast_probes: bool = True,
    max_probe_rows: int | None = 1_000_000,
) -> DataFrame:
    """EXACT substring decontamination — the n-gram family's blind
    spot: detect every position where a probe's FULL token sequence
    appears contiguously inside a corpus document (overlapping-window
    containment), not merely whether some whole shingle is shared.
    This is the verbatim-leak test (benchmark answers, licensed text)
    that shingle-overlap rate cannot express.

    Method: anchor-k-gram match, then bounded extension. Each probe
    contributes ONE anchor k-gram; corpus k-gram positions matching
    the anchor become candidate alignments (match_pos = pos - anchor
    offset + 1), verified by ONE token-slice equality against the full
    probe — never a scan of the corpus per probe. Probes shorter than
    ``k`` tokens are skipped (no anchor exists; lower ``k`` for short
    probes). Returns (corpus_id, probe_id, match_pos) — one row per
    occurrence, 1-based token position.

    ``anchor``: "rarest" (default) takes the probe k-gram with the
    LOWEST corpus frequency (ties by position) — one corpus-gram
    count aggregation, reused across all probes. "first" skips that
    pass and anchors on the probe's first k tokens.

    ANCHOR SELECTIVITY AT SCALE: candidate count = sum over probes of
    corpus_frequency(anchor). With "first" anchors, a probe that
    starts with boilerplate ("the quick brown...") anchors on a HOT
    k-gram and floods the verify join — the classic failure. "rarest"
    makes the candidate count the MINIMUM the probe's corpus-present
    grams allow (a probe whose every gram is novel generates ZERO
    candidates; one with any rare gram generates ~its frequency; a
    probe of pure boilerplate degrades gracefully to its least-common
    window). Raise ``k`` to sharpen selectivity (k=8
    on web text makes random anchor collisions negligible); the
    corpus k-gram explode is O(total tokens) either way and the
    verify is bucketed by anchor then by corpus_id — no stage ever
    pairs a probe with a non-colliding document.

    Plan: corpus grams explode (stateless, runs ONCE) -> broadcast
    join against the probe-gram set (benchmark-sized) -> [rarest
    only: two windows over the probe-filtered match stream pick the
    rarest anchor and emit its alignments in the same pass] ->
    slice-equality verify joined back on corpus_id.

    PROBE-SIZE CONTRACT: ``broadcast_probes=True`` (default) hints the
    probe-gram and probe-token joins broadcast — correct for the
    intended caller (probes = a benchmark/eval suite, orders of
    magnitude smaller than the corpus), and guarded: past
    ``max_probe_rows`` probes the plan raises AT EXECUTION TIME (same
    in-plan lazy guard as embedding_cosine_pairs' max_rows) instead of
    force-broadcasting a corpus-sized side into a driver/executor OOM
    or the 8 GB broadcast limit. For genuinely large probe sets pass
    ``broadcast_probes=False`` — joins are left unhinted and AQE picks
    the strategy from runtime sizes (shuffle join at scale)."""
    if k < 1:
        raise ValueError(f"substring_matches: k must be >= 1, got {k}")
    ct = corpus.select(
        F.col(corpus_id).alias("corpus_id"),
        F.expr(f"array_remove(split({corpus_text}, ' '), '')").alias("_ct"),
    )
    grams = F.when(
        F.size("_ct") >= k,
        F.expr(
            f"transform(sequence(1, size(_ct) - {k - 1}), "
            f"i -> array_join(slice(_ct, i, {k}), ' '))"
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    # the gram EXCHANGE key is xxhash64(kgram), not the ~k*w-byte gram
    # string: candidates from a (vanishingly rare) 64-bit collision are
    # killed by the slice-equality verify, and the verified OUTPUT is
    # anchor-invariant — every true occurrence matches under ANY anchor
    # the probe could pick, and only true occurrences survive — so the
    # result is byte-identical to the string-keyed form (and to a SQL
    # oracle that stays string-keyed) while the shuffle carries 8-byte
    # keys. Measured at sf1.0 the gram exchange was the one stage whose
    # cost grew faster than the baseline engine's.
    cg = ct.select("corpus_id", F.posexplode(grams).alias("_p0", "kgram")).select(
        "corpus_id",
        (F.col("_p0") + 1).cast("long").alias("pos"),
        F.xxhash64("kgram").alias("gh"),
    )
    pt = probes.select(
        F.col(probe_id).alias("probe_id"),
        F.expr(f"array_remove(split({probe_text}, ' '), '')").alias("_pt"),
    ).where(F.size("_pt") >= k)
    # pt_anchor feeds the HARD-broadcast anchor side (pgrams / pa) and
    # carries the row-count guard; the rarest path's later probe-token
    # join uses the UNGUARDED, UNHINTED pt — AQE broadcasts it at
    # runtime when small and falls back to a shuffle join when not, so
    # it needs no guard, and the guard subtree (probe scan + limit +
    # count + 1-row broadcast) runs ONCE per query instead of twice
    # (r14: the executed sf0.1 plan carried 2 BroadcastNestedLoopJoins
    # and two guard aggregates for the same bound).
    pt_anchor = pt
    if broadcast_probes and max_probe_rows is not None:
        # in-plan lazy guard (embedding_cosine_pairs pattern): the hint
        # below is a HARD broadcast, so bound the side it applies to
        guard_n = pt.limit(max_probe_rows + 1).agg(
            F.count(F.lit(1)).alias("_guard_n")
        )
        pt_anchor = (
            pt.crossJoin(F.broadcast(guard_n))
            .withColumn(
                "probe_id",
                F.when(
                    F.col("_guard_n") <= max_probe_rows, F.col("probe_id")
                ).otherwise(
                    F.raise_error(
                        F.lit(
                            f"substring_matches: probe set exceeds "
                            f"{max_probe_rows} rows; broadcast_probes=True "
                            "force-broadcasts the probe side (driver/executor "
                            "OOM hazard past the 8 GB broadcast limit). Pass "
                            "broadcast_probes=False to let AQE pick the join "
                            "strategy, or raise max_probe_rows."
                        )
                    )
                ),
            )
            .drop("_guard_n")
        )
    _maybe_bcast = (lambda d: d.hint("broadcast")) if broadcast_probes else (lambda d: d)
    if anchor == "first":
        pa = pt_anchor.select(
            "probe_id",
            "_pt",
            F.xxhash64(
                F.expr(f"array_join(slice(_pt, 1, {k}), ' ')")
            ).alias("gh"),
            F.lit(1).cast("long").alias("_off"),
        )
    elif anchor == "rarest":
        pgrams = pt_anchor.select(
            "probe_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(_pt) - {k - 1}), "
                    f"i -> array_join(slice(_pt, i, {k}), ' '))"
                )
            ).alias("_p0", "kgram"),
        ).select(
            "probe_id",
            (F.col("_p0") + 1).cast("long").alias("_off"),
            F.xxhash64("kgram").alias("gh"),
        )
        # SINGLE-PASS anchor selection: frequency counting, anchor
        # choice, AND candidate generation all ride ONE broadcast join
        # of the gram stream against the (benchmark-sized) probe-gram
        # set, so the corpus explode runs exactly once. The previous
        # two-pass form (full-corpus groupBy(gh) count, probe left
        # join, then a second cg-on-gh candidate join) relied on AQE
        # wiring the two consumers to one ReusedExchange — measured at
        # sf4.0 that reuse NEVER forms (AQE broadcasts the anchor side
        # and re-plans each branch: executed plan had Generate x2,
        # ReusedExchange x0), so the 10M-row explode and an 8M-group
        # aggregate both ran twice: 10.2 s vs 3.7 s for this form on
        # the same query/host, with byte-identical output at
        # sf0.01/0.1/2.0 (exceptAll both ways = 0).
        # _freq = occurrences of this probe gram in the corpus (the
        # window partition IS the gram's match set); the per-probe min
        # over (_freq, _off, gh) picks the rarest anchor, and the rows
        # of that winning partition ARE the candidate alignments — no
        # join back. A probe gram ABSENT from the corpus contributes
        # no rows, so a probe with any novel gram anchors on its
        # rarest PRESENT gram instead of the old freq-0 anchor: its
        # (impossible) candidates are killed by the verify, output
        # unchanged; only adversarial all-hot-gram probes pay more
        # than before, and those flood ANY anchor choice. Window
        # partition size = the probe's total match volume — bounded by
        # benchmark scale times gram frequency, the same quantity the
        # candidate join always materialized for the chosen anchor.
        # ONE exchange serves BOTH anchor windows (r14): repartition the
        # match stream by probe_id — HashPartitioning(probe_id) satisfies
        # the (probe_id, _off) window's clustered distribution (subset
        # rule) as well as the (probe_id) one, and the first window's
        # (probe_id, _off) sort covers the second's probe_id prefix, so
        # the planner inserts no second exchange or sort (was: two
        # exchanges + two sorts, one per partition spec).
        hits = cg.join(_maybe_bcast(pgrams), "gh").repartition("probe_id")
        w_gram = Window.partitionBy("probe_id", "_off")
        w_probe = Window.partitionBy("probe_id")
        anch = hits.withColumn(
            "_freq", F.count(F.lit(1)).over(w_gram)
        ).withColumn("_m", F.min(F.struct("_freq", "_off", "gh")).over(w_probe))
        # the probe-token join is UNHINTED: pt is probe-set-sized, AQE
        # broadcasts it at runtime (or shuffle-joins a genuinely large
        # set) — the hard hint lives only on the guarded anchor side
        cand = (
            anch.where(F.struct("_freq", "_off", "gh") == F.col("_m"))
            .select(
                "corpus_id",
                "probe_id",
                (F.col("pos") - F.col("_off") + 1).alias("match_pos"),
            )
            .join(pt, "probe_id")
        )
    else:
        raise ValueError(
            f"substring_matches: anchor must be 'rarest' or 'first', "
            f"got {anchor!r}"
        )
    if anchor == "first":
        # same broadcast contract as the rarest path: the probe-anchor
        # side is benchmark-sized and guarded by max_probe_rows above
        cand = cg.join(_maybe_bcast(pa), "gh").select(
            "corpus_id",
            "probe_id",
            (F.col("pos") - F.col("_off") + 1).alias("match_pos"),
            "_pt",
        )
    return (
        cand.join(ct, "corpus_id")
        .where(
            (F.col("match_pos") >= 1)
            & (F.col("match_pos") + F.size("_pt") - 1 <= F.size("_ct"))
            & (F.expr("slice(_ct, int(match_pos), size(_pt))") == F.col("_pt"))
        )
        .select("corpus_id", "probe_id", "match_pos")
    )


def remove_spans(
    df: DataFrame,
    matches: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    match_id_col: str = "corpus_id",
    pos_col: str = "match_pos",
    len_col: str = "span_tokens",
) -> DataFrame:
    """Cut matched token spans OUT of documents — the remediation step
    that follows substring_matches/duplicate_spans discovery (ExactSubstr
    dedup removes the repeated span from all-but-one occurrence;
    benchmark decontamination removes it everywhere). ``matches`` rows
    are (match_id_col, pos_col, len_col): a 1-based token start and a
    token count per hit. Returns EVERY input document as
    (id_col, clean_text, n_tokens, n_removed) — unmatched docs pass
    through with n_removed = 0.

    Overlapping/adjacent hits need NO interval merging: a token
    survives iff NO hit interval covers its position (an exists()
    probe per token against the doc's interval list — O(tokens x
    hits_per_doc), and hits per doc are few by construction).
    Tokens rejoin with single spaces (the pipeline-wide tokenization
    contract), so cut output re-tokenizes cleanly downstream.

    Scale shape: one groupBy(doc) over the MATCH set (tiny — hits,
    not tokens), a left join back to the corpus (match side
    aggregates broadcast under AQE), then a stateless projection."""
    ivs = matches.groupBy(F.col(match_id_col).alias(id_col)).agg(
        F.collect_list(
            F.struct(
                F.col(pos_col).cast("long").alias("s"),
                (F.col(pos_col) + F.col(len_col) - 1).cast("long").alias("e"),
            )
        ).alias("_ivs")
    )
    empty_ivs = F.expr("array()").cast("array<struct<s:bigint,e:bigint>>")
    base = df.join(ivs, id_col, "left").select(
        F.col(id_col),
        F.expr(f"array_remove(split({text_col}, ' '), '')").alias("_tk"),
        F.coalesce(F.col("_ivs"), empty_ivs).alias("_ivs"),
    )
    kept = F.expr(
        # Spark filter lambda index i is 0-based; positions are 1-based
        "filter(_tk, (t, i) -> "
        "NOT exists(_ivs, iv -> iv.s <= i + 1 AND i + 1 <= iv.e))"
    )
    return base.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        F.size(kept).cast("long").alias("n_tokens"),
        (F.size("_tk") - F.size(kept)).cast("long").alias("n_removed"),
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Duplicated-span mining (public method: Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — the
    ExactSubstr finding that verbatim spans repeated ACROSS documents
    are what LMs memorize, and removing them beats whole-doc dedup):
    every ``span_tokens``-token window occurring in at least
    ``min_docs`` DISTINCT documents, with its occurrence stats ->
    (span, n_docs, n_occurrences, min_doc_id). Downstream, matched
    spans are cut from all-but-one occurrence; this operator is the
    discovery pass.

    Versus the n-gram family: word_shingles feeds per-DOC similarity
    (Jaccard/MinHash); this groups the span STREAM itself, so a
    boilerplate paragraph shared by 10k pages surfaces as one row with
    n_docs=10k — the memorization hot list, ranked for free by the
    groupBy counts.

    Scale shape: the window explode is O(total tokens) and stateless;
    ONE groupBy(span) exchange with map-side combine does everything
    (count, distinct-doc count via the (span, id) re-aggregation,
    min-id). The span string itself is the shuffle key — for 100 TB,
    substitute the span's md5 as the key and keep one example string
    per group (same plan, 16-byte keys); the text form here keeps the
    oracle trivially replayable. Suppression of overlapping self-hits:
    a document repeating a token run internally counts each window
    occurrence (n_occurrences), but n_docs counts each doc once —
    min_docs=2 therefore requires a CROSS-document repeat."""
    if span_tokens < 1:
        raise ValueError(
            f"duplicate_spans: span_tokens must be >= 1, got {span_tokens}"
        )
    k = int(span_tokens)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.expr(f"array_remove(split({text_col}, ' '), '')").alias("_tk"),
    )
    spans = F.when(
        F.size("_tk") >= k,
        F.expr(
            f"transform(sequence(1, size(_tk) - {k - 1}), "
            f"i -> array_join(slice(_tk, i, {k}), ' '))"
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    occ = toks.select("id", F.explode(spans).alias("span"))
    return (
        occ.groupBy("span")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("id").alias("min_doc_id"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def ngram_contamination(
    corpus_shingles: DataFrame, probe_shingles: DataFrame
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing ANY n-gram
    with a probe set (eval benchmarks, held-out sets) — the standard
    n-gram-overlap contamination test run before LLM training.

    Input: two (id, shingle) frames (word_shingles output). Output:
    DISTINCT contaminated corpus ids.

    Scale shape: one LEFT SEMI join on the shingle string — the corpus
    side never materializes probe columns, the probe side (benchmarks;
    tiny next to a 100 TB corpus) broadcasts under AQE when it fits,
    else hash-partitions on shingle; then a distinct on id. No pair
    explosion: semi-join short-circuits per (id, shingle) match."""
    return (
        corpus_shingles.join(
            probe_shingles.select("shingle"), "shingle", "left_semi"
        )
        .select("id")
        .distinct()
    )


def ngram_contamination_rate(
    corpus_shingles: DataFrame, probe_shingles: DataFrame
) -> DataFrame:
    """Fuzzy decontamination metric: per corpus document, the FRACTION
    of its distinct n-grams that appear anywhere in the probe set —
    (id, n_shingles, n_contaminated, contamination_rate). The binary
    any-overlap test (ngram_contamination) over-flags long documents;
    thresholding this rate (e.g. > 0.1) is the standard refinement.

    Scale shape: distinct corpus (id, shingle) pairs LEFT-join the
    distinct probe shingles on the shingle (probe side is benchmark-
    sized — AQE broadcasts it; corpus-sized probes degrade to
    sort-merge), then one groupBy(id) counts matches vs totals. The
    rate is one division of two exact integers — engine-identical."""
    corpus = corpus_shingles.select("id", "shingle").distinct()
    probe = (
        probe_shingles.select("shingle").distinct().withColumn("_hit", F.lit(1))
    )
    joined = corpus.join(probe, "shingle", "left")
    return joined.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count("_hit").alias("n_contaminated"),
    ).select(
        "id",
        "n_shingles",
        "n_contaminated",
        (
            F.col("n_contaminated").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("contamination_rate"),
    )


def _segment_explode(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str | None,
    words_per_segment: int | None,
    join_sep: str | None,
):
    """Shared segmentation front-end of :func:`segment_dedup` /
    :func:`incremental_segment_dedup`: validate args, explode to
    (id_col, _pos, _seg) rows, return (segs, out_sep)."""
    import re as _re

    if (sep is None) == (words_per_segment is None):
        raise ValueError(
            "segment_dedup: exactly one of sep / words_per_segment"
            " must be given"
        )
    for reserved in ("_pos", "_seg", "_w", "_first", "_enc"):
        if reserved in df.columns:
            raise ValueError(
                f"segment_dedup: input already has a {reserved!r} column"
                " (internal temp name); rename it first"
            )
    if words_per_segment is not None:
        n = int(words_per_segment)
        if n < 1:
            raise ValueError(
                f"segment_dedup: words_per_segment must be >= 1, got {n}"
            )
        out_sep = " "
        # fixed word windows: ws = non-empty whitespace words; segment
        # i (1-based) = words[(i-1)*n : i*n] joined by one space
        segs = df.select(
            id_col,
            F.expr(
                f"array_remove(split({text_col}, ' '), '')"
            ).alias("_w"),
        ).select(
            id_col,
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, int(ceil(size(_w) / {n}.0))),"
                    f" i -> array_join(slice(_w, (i - 1) * {n} + 1, {n}), ' '))"
                )
            ).alias("_pos", "_seg"),
        )
    else:
        if sep == "":
            raise ValueError("segment_dedup: sep must be non-empty")
        out_sep = join_sep if join_sep is not None else sep
        segs = df.select(
            id_col,
            F.posexplode(
                F.split(F.col(text_col), _re.escape(sep), -1)
            ).alias("_pos", "_seg"),
        ).where(F.col("_seg") != "")
    return segs, out_sep


def _segment_first_occurrence(segs: DataFrame, df: DataFrame, id_col: str) -> DataFrame:
    """First-occurrence winners per distinct segment: the primitive
    encoded-min for integral ids (order-isomorphic id*2^31+pos — see
    segment_dedup's scale-shape notes), exact struct-min otherwise."""
    id_type = df.schema[id_col].dataType.simpleString()
    if id_type in ("tinyint", "smallint", "int", "bigint"):
        K = 1 << 31
        enc = F.when(
            (F.col("_pos") >= F.lit(K))
            | (F.abs(F.col(id_col).cast("long")) >= F.lit(1 << 32)),
            F.raise_error(
                F.lit(
                    "segment_dedup: encoded-min bounds exceeded"
                    " (position >= 2^31 or |id| >= 2^32) — split finer"
                    " or use a string id to take the struct-min path"
                )
            ).cast("long"),
        ).otherwise(F.col(id_col).cast("long") * F.lit(K) + F.col("_pos"))
        enc_min = segs.groupBy("_seg").agg(F.min(enc).alias("_enc"))
        # decode with 64-bit integer arithmetic only — a double divide
        # would round past 2^53 and corrupt large ids
        pos_dec = F.expr(f"pmod(_enc, {K}L)")
        doc_dec = F.expr(f"(_enc - pmod(_enc, {K}L)) div {K}L")
        return enc_min.select(
            doc_dec.cast(df.schema[id_col].dataType).alias(id_col),
            pos_dec.alias("_pos"),
            "_seg",
        )
    return (
        segs.groupBy("_seg")
        .agg(F.min(F.struct(F.col(id_col), F.col("_pos"))).alias("_first"))
        .select(
            F.col(f"_first.{id_col}").alias(id_col),
            F.col("_first._pos").alias("_pos"),
            "_seg",
        )
    )


def _segment_rebuild(
    winners: DataFrame, df: DataFrame, id_col: str, text_col: str, out_sep: str
) -> DataFrame:
    """Reassemble documents from surviving segments in original order;
    every input document present (fully-deduplicated ones -> '')."""
    rebuilt = winners.groupBy(id_col).agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(_pos, _seg))),"
                " s -> s._seg)"
            ),
            out_sep,
        ).alias("_rebuilt")
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_rebuilt"), F.lit("")).alias(text_col),
        )
    )


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str | None = "\n\n",
    words_per_segment: int | None = None,
    join_sep: str | None = None,
) -> DataFrame:
    """Corpus-wide EXACT segment deduplication with document
    reassembly — the repeated-passage removal step of MassiveText /
    Gopher and CCNet's line-level dedup (Rae et al. 2021 §A1.2; Wenzek
    et al. 2019): split every document into segments, keep only the
    FIRST occurrence of each distinct segment across the whole corpus
    (first = smallest ``(doc_id, position)``), and rebuild each
    document from its surviving segments in original order. Returns
    ``(id_col, text_col)`` with every input document present — a
    document whose every segment appeared earlier elsewhere comes back
    as the empty string (the downstream length/quality filter drops
    it, as in the published pipelines).

    Segmentation is a parameter, exact on any SQL engine:
      * ``sep`` (default ``"\\n\\n"``: paragraphs; ``"\\n"``: CCNet
        lines): literal-separator split; empty segments (consecutive
        separators, leading/trailing) are dropped before dedup and the
        rebuild joins with ``join_sep`` (defaults to ``sep``), so
        spacing is normalized deterministically.
      * ``words_per_segment``: fixed word windows (whitespace words,
        ``n`` per segment, last window ragged) — the windowed variant
        for corpora without separator structure; rebuild joins words
        with single spaces.

    First-occurrence-wins is the published tie-break; because it is a
    pure function of (segment, doc_id, position), the whole operator
    replays as one SQL chain (see the ``corpus_segment_dedup`` oracle).

    Scale shape: the dedup is ``groupBy(segment).agg(min(...))`` — NOT
    a window over the corpus: partial aggregation combines map-side,
    so the exchange carries one candidate row per per-partition-
    distinct segment (boilerplate-heavy corpora shuffle a fraction of
    themselves), and no corpus-wide sort exists anywhere. For an
    integral ``id_col`` the min runs over the single BIGINT
    ``id * 2^31 + position`` — order-isomorphic to the (id, pos)
    struct (positions are guarded < 2^31 per row, ids < 2^32 in
    magnitude) but a PRIMITIVE codegen hash aggregate, measured 1.8x
    faster than the struct-min ObjectHashAggregate on the sf8 corpus
    (15.8 s vs 28.7 s for the winners stage); non-integral ids fall
    back to the exact struct-min. Reassembly is one ``groupBy(id)``
    with an in-memory sort per document (documents are bounded; the
    corpus is not). Two keyed exchanges total plus a left presence
    join; a hot boilerplate segment is ONE group row after map-side
    combine, not a straggler partition.

    Measured rejection (r15): an Arrow form (mapInPandas segmentation
    + per-document applyInPandas reassembly) lost 37.5 s vs 23.8 s at
    sf8 — per-document grouped-map batches are the anti-pattern for
    tiny groups, and the per-word Python loop gave back more than the
    interpreted HOF chunking costs. The HOF chunking stays: replacing
    it with a words-explode + slot aggregate would add a corpus-sized
    exchange, the wrong trade at 100 TB where CPU scales out and
    shuffles do not."""
    segs, out_sep = _segment_explode(
        df, text_col, id_col, sep, words_per_segment, join_sep
    )
    winners = _segment_first_occurrence(segs, df, id_col)
    return _segment_rebuild(winners, df, id_col, text_col, out_sep)


def incremental_segment_dedup(
    new_batch: DataFrame,
    seen_segments: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str | None = "\n\n",
    words_per_segment: int | None = None,
    join_sep: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental :func:`segment_dedup` — the arriving-batch form of
    repeated-passage removal a rolling corpus ingest needs: segments
    already present in the persisted ``seen_segments`` store (one
    ``segment`` string column) are cut from every batch document, the
    batch then dedupes WITHIN itself first-occurrence-wins, and each
    document is rebuilt from its surviving segments in order. Returns
    ``(deduped_docs, new_segments)``: append ``new_segments`` (the
    batch's store-novel distinct segments) to the store and the
    invariant "the store holds every segment ever seen, and no segment
    ever survives twice across the corpus lifetime" is maintained
    batch over batch — exactly the union-corpus semantics of running
    :func:`segment_dedup` over history + batch with history winning
    every tie, without ever re-scanning history (oracle-checked).

    Scale shape: one left-anti join of the batch's segments (batch-
    sized) against the store's single key column — keep the store as a
    segment-only parquet table, bucketed on the segment, and daily
    batches join without re-shuffling the store side; then the same
    groupBy(min)/rebuild plan as ``segment_dedup``. History is touched
    only through the join."""
    segs, out_sep = _segment_explode(
        new_batch, text_col, id_col, sep, words_per_segment, join_sep
    )
    fresh = segs.join(
        seen_segments.select(F.col("segment").alias("_seg")),
        "_seg",
        "left_anti",
    )
    winners = _segment_first_occurrence(fresh, new_batch, id_col)
    deduped = _segment_rebuild(winners, new_batch, id_col, text_col, out_sep)
    new_segments = winners.select(F.col("_seg").alias("segment"))
    return deduped, new_segments

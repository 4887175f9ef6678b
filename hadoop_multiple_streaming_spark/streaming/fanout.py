"""Streaming fan-out: one ``readStream`` feeding N branch pipelines —
the Structured Streaming twin of the reference's single-scan batch
multiplexing (MultiPipeMapper.java:150-169 fan-out; here each
micro-batch is read once and every branch transform runs against the
same in-memory batch via foreachBatch).

Also: watermarked windowed aggregation (the streaming twin of the
events_hourly_rollup batch query) and a custom stateful operator via
applyInPandasWithState (running per-key counts), covering the
"anything expressible as sorted-stream reduce per key" capability
ceiling (SURVEY §2.6) in continuous mode.

Scale notes: foreachBatch fan-out reuses ONE batch scan for all
branches (persist per batch); checkpointing gives exactly-once per
sink for idempotent (path-partitioned) writes. Watermarks bound state;
shuffle partitions size the stateful store.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..plans.model import Branch, JobSpec
from ..plans.runner import build_branches
from ..sources.io import HadoopFS, write_kv_text


def stream_fanout(
    stream_df: DataFrame,
    branches: list[Branch],
    output: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Fan a streaming line DataFrame out to N branch directories
    (``output/<dirKey>/``): each micro-batch is persisted once and every
    branch runs against it — one source read per batch for all N
    branches, the reference's phase-1 economy in streaming form.

    Each micro-batch's branches are built by the batch runner's own
    mapper -> reducer plan (``plans.runner.build_branches``, default
    JobSpec framing and pipe options), so a branch computes per batch
    exactly what ``run_job`` computes over the same lines. Mappers and
    reducers may be subprocess commands, native callables or
    ``aggregate``; a native mapper sees the batch's single column under
    its own name. Every reducer reduces ONE micro-batch: nothing
    carries over between batches, so a key spread over several batches
    yields one output row per batch (``NONE`` stays map-only). A
    subprocess is rerun on micro-batch replay, so exactly-once holds
    only if the executable is deterministic.

    Sink framing matches the batch runner byte for byte (asserted by
    tests/test_streaming_equivalence.py::test_stream_fanout_equals_
    batch_run_job): a (key, value) branch output is written as
    Hadoop-faithful ``key SEP value`` text lines — the separator always
    present, empty value included — so a consumer can switch a branch
    between run_job and stream_fanout without a format change. Other
    outputs of a native reducer write parquet."""
    spec = JobSpec(inputs=[], output=output, branches=branches)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        shared = batch_df.persist()
        try:
            for key, out in build_branches(shared, spec).items():
                path = f"{output}/{key}"
                if set(out.columns) == {"key", "value"}:
                    write_kv_text(out, path, spec.separator, mode="append")
                else:
                    out.write.mode("append").parquet(path)
        finally:
            shared.unpersist()

    return _start_foreach_batch(stream_df, process_batch, checkpoint, available_now)


def _start_foreach_batch(
    stream_df: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint: str,
    available_now: bool,
):
    """Start ``stream_df`` through a checkpointed foreachBatch sink
    calling ``process(batch_df, batch_id)``; ``available_now`` drains
    what is there and stops."""
    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_rollup(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window rollup — late data beyond the
    watermark is dropped, state is bounded. Streaming twin of the
    events_hourly_rollup batch query."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("double")).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            key_col,
            "cnt",
            "sum_value",
        )
    )


def session_rollup(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows (gap-based, the streaming twin of the batch
    events_sessionize query): per key, events within ``gap`` of each
    other merge into one session; the watermark bounds session state.
    """
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


_STATE_SCHEMA = StructType([StructField("total", LongType())])
_COUNT_SCHEMA = StructType(
    [StructField("key", StringType()), StructField("total", LongType())]
)


def running_counts(stream_df: DataFrame, key_col: str = "key") -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    running per-key record counts carried across micro-batches — the
    template for any accumulate-per-key subprocess-reducer the
    reference could express, now with managed state + timeouts."""

    def update(key, pdfs, state: GroupState):
        rows = sum(len(pdf) for pdf in pdfs)
        total = (state.get[0] if state.exists else 0) + rows
        state.update((total,))
        import pandas as pd

        yield pd.DataFrame({"key": [key[0]], "total": [total]})

    return (
        stream_df.groupBy(F.col(key_col))
        .applyInPandasWithState(
            update,
            outputStructType=_COUNT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_dedup(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the FIRST arrival per key within
    the watermark horizon (the streaming twin of exact_dedup). State =
    one entry per distinct key seen within the watermark — bounded, vs
    dropDuplicates without a watermark whose state grows forever. At
    100 TB/day ingest, size the watermark to the real duplicate window
    (e.g. upstream retry horizon), not to "safe" multiples of it."""
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def streaming_curation(
    stream_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    min_quality: float = 0.0,
) -> DataFrame:
    """The curation pipeline as a CONTINUOUS query: per micro-batch,
    score quality (stateless projection), drop low-quality documents,
    redact PII, and keep only the first arrival per document id within
    the watermark horizon (bounded stateful dedup). Exactly the batch
    `curation_pipeline` semantics, re-expressed on a stream — the
    ingest-time filter that keeps a 100 TB/day crawl from ever landing
    raw. All the per-row work is the same JVM column expressions the
    batch path uses; the only state is the dedup key set, watermark-
    bounded."""
    from ..operators.text import quality_score, redact_pii

    scored = stream_df.withColumn("quality", quality_score(F.col(text_col)))
    kept = scored.where(F.col("quality") >= min_quality)
    redacted = redact_pii(
        kept, text_col, id_col, keep_cols=[ts_col, "quality"]
    )
    return streaming_dedup(redacted, [id_col], ts_col=ts_col, watermark=watermark)


def stream_enrich_join(
    stream_df: DataFrame,
    dim_df: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against
    the (slowly-changing) dimension snapshot — Spark re-resolves the
    static side per batch, so an overwritten dim table is picked up
    without restarting the query. The static side follows normal
    broadcast rules: keep dims broadcast-sized or pre-bucket both
    sides."""
    return stream_df.join(dim_df, on, how)


def _best_effort_delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` via the Hadoop FileSystem API
    (filesystem-agnostic: local, HDFS, object stores); swallow every
    failure — callers use this only where a later overwrite makes the
    delete redundant for correctness."""
    try:
        HadoopFS(spark, path).delete(path)
    except Exception:
        pass


def _prior_store(
    spark: SparkSession, store_path: str, batch_id: int
) -> DataFrame | None:
    """The batch-keyed store as every batch but ``batch_id`` left it,
    or None when there is no store yet.

    The current batch's own subdir is EXCLUDED: a replay of batch N
    that crashed after its store write must not collide with itself
    (it would overwrite its survivors empty). ``batch_id`` is the hive
    partition column, so this prunes the N subdir before any file IO.

    ONLY an empty store means "first batch": a missing path, or a
    pre-created dir with no parquet yet (UNABLE_TO_INFER_SCHEMA). Any
    other failure (permissions, corrupt footer, transient FS, a dir
    without the ``batch_id=`` layout) fails the batch, so the streaming
    engine retries it instead of silently ingesting dups with
    cross-batch screening disabled. Match on the stable error class
    (Spark 3.4+ error framework; getCondition is the 4.x name, with
    getErrorClass the pre-4.0 spelling), falling back to message
    substrings for builds that don't populate it."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(store_path).where(
            F.col("batch_id") != F.lit(int(batch_id))
        )
    except AnalysisException as e:
        _get = getattr(e, "getCondition", None) or getattr(
            e, "getErrorClass", None
        )
        klass = (_get() or "") if _get else ""
        msg = str(e)
        empty_store = klass in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA") or (
            not klass
            and ("Path does not exist" in msg or "Unable to infer schema" in msg)
        )
        if not empty_store:
            raise
        return None


def ingest_minhash_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    output_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> None:
    """One micro-batch of the incremental MinHash ingest screen —
    module-level so the replay/crash-recovery contract is directly
    testable (tests re-invoke a batch_id to simulate the engine's
    retry). Semantics and layout: see streaming_incremental_minhash."""
    from ..operators.dedup import (
        minhash_band_buckets,
        minhash_signatures,
        word_shingles,
    )

    spark = batch_df.sparkSession
    # Heal a torn replay: a crash MID-write can leave a corrupt
    # part-file under this batch's own store subdir. The probe read
    # below prunes batch N's ROWS (.where on the partition column),
    # but parquet schema inference may still open the torn footer and
    # fail every retry permanently. Deleting the subdir at batch start
    # is safe by construction — the overwrite at the end of this batch
    # is the only writer of it, and a replayed batch recomputes it in
    # full from batch_df + the other batches' store keys.
    _best_effort_delete(spark, f"{store_path}/batch_id={int(batch_id)}")
    sh = word_shingles(batch_df, text_col, id_col, n=shingle_n, distinct=False)
    sig = minhash_signatures(sh, num_hashes=num_hashes)
    # persist: this lineage (shingles -> 16-hash MinHash -> banding)
    # is the batch's most expensive computation and is consumed
    # TWICE (drop decision + store-key write) — without the cache
    # it would recompute end-to-end for the second write
    buckets = minhash_band_buckets(sig, rows_per_band=rows_per_band).persist()
    try:
        store = _prior_store(spark, store_path, batch_id)
        cross = (
            buckets.join(
                store.select("band", "bucket"), ["band", "bucket"], "left_semi"
            ).select("id")
            if store is not None
            else buckets.select("id").limit(0)
        )
        rep = buckets.groupBy("band", "bucket").agg(F.min("id").alias("_keep"))
        within = (
            buckets.join(rep, ["band", "bucket"])
            .where(F.col("id") != F.col("_keep"))
            .select("id")
        )
        dropped = cross.unionByName(within).distinct()
        survivors = batch_df.join(
            dropped.withColumnRenamed("id", id_col), [id_col], "left_anti"
        )
        # idempotent batch-keyed overwrites (NOT appends): replaying
        # batch N replaces exactly its own two subdirectories
        survivors.write.mode("overwrite").parquet(
            f"{output_path}/batch_id={int(batch_id)}"
        )
        (
            buckets.join(
                survivors.select(F.col(id_col).alias("id")), ["id"], "left_semi"
            )
            .select("band", "bucket")
            .write.mode("overwrite")
            .parquet(f"{store_path}/batch_id={int(batch_id)}")
        )
    finally:
        buckets.unpersist()


def streaming_incremental_minhash(
    stream_df: DataFrame,
    store_path: str,
    output_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    available_now: bool = True,
):
    """Streaming NEAR-dup ingestion screen — the foreachBatch form of
    the incremental MinHash store (operators.dedup.minhash_store_hits
    batch twin, equivalence test-asserted). Per micro-batch:

      1. compute the batch's LSH (band, bucket) keys (shingle ->
         16-hash MinHash -> banded md5 buckets, identical math to the
         batch path by construction — one shared banding function);
      2. drop every document that collides with the PERSISTED bucket
         store (near-dup of already-ingested content) OR shares a
         bucket with a smaller-id batch member (within-batch near-dup;
         a doc whose only collision partner was itself dropped for a
         store hit is dropped too — its partner being a near-dup of
         stored content makes it one transitively, the conservative
         choice for dedup);
      3. write the SURVIVORS to ``output_path/batch_id=N/`` and their
         bucket keys to ``store_path/batch_id=N/`` — so the store
         always holds exactly the ingested corpus's buckets, batch
         over batch, no signatures at rest (16-byte keys + band int).

    Replay/EXACTLY-ONCE: both writes are mode("overwrite") into a
    batch_id-keyed subdirectory (the demux sink's idempotent
    crash-restart layout, sources/io.py write_demux /
    plans.runner.run_job's phase 1), so re-running micro-batch N
    REPLACES its own output instead of appending duplicates. The store
    probe excludes the current batch's own subdirectory — a replay
    that crashed AFTER the store write would otherwise collide with
    its own keys and overwrite its survivors empty — which also makes
    the drop decision identical on every replay (it sees exactly the
    pre-N store, whichever side of the crash the keys landed on).
    Readers see hive partition discovery's extra ``batch_id`` column —
    per-batch ingest lineage for free. At 100 TB/day, bucket the store
    parquet on `bucket` so the per-batch probe joins without
    re-shuffling the store side, and compact old batch_id subdirs
    (sources.io.compact_table) on a schedule."""
    process = functools.partial(
        ingest_minhash_batch,
        store_path=store_path,
        output_path=output_path,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
        shingle_n=shingle_n,
    )
    return _start_foreach_batch(stream_df, process, checkpoint, available_now)


def ingest_bloom_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    output_path: str,
    key_col: str = "text",
    id_col: str = "doc_id",
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> None:
    """One micro-batch of the streaming Bloom ingest gate (foreachBatch
    body; replay-safe — see streaming_bloom_screen)."""
    from ..operators.bloom import _fold_bitmaps, bloom_screen, build_bloom, save_bloom

    spark = batch_df.sparkSession
    # heal a torn replay (same rule as ingest_minhash_batch: this
    # batch's subdir has exactly one writer — us, at the end)
    _best_effort_delete(spark, f"{store_path}/batch_id={int(batch_id)}")
    store = _prior_store(spark, store_path, batch_id)
    # every prior bitmap ORed on the executors; the driver holds one
    prior = (
        _fold_bitmaps(store, "ingest_bloom_batch") if store is not None else None
    )
    fresh = bloom_screen(batch_df, key_col, prior) if prior is not None else batch_df
    # within-batch exact dedup (batch-sized): min-id representative
    keep_ids = fresh.groupBy(key_col).agg(F.min(id_col).alias(id_col)).select(
        id_col
    )
    survivors = fresh.join(keep_ids, id_col, "left_semi").persist()
    try:
        survivors.write.mode("overwrite").parquet(
            f"{output_path}/batch_id={int(batch_id)}"
        )
        batch_bloom = build_bloom(
            survivors.select(key_col), key_col, num_bits=num_bits,
            num_hashes=num_hashes,
        )
        save_bloom(spark, batch_bloom, f"{store_path}/batch_id={int(batch_id)}")
    finally:
        survivors.unpersist()


def streaming_bloom_screen(
    stream_df: DataFrame,
    store_path: str,
    output_path: str,
    checkpoint: str,
    key_col: str = "text",
    id_col: str = "doc_id",
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    available_now: bool = True,
):
    """Streaming EXACT-key ingestion gate through the Bloom bitmap
    store (operators.bloom) — the zero-key-store sibling of
    streaming_incremental_minhash for exact-duplicate screening:

      1. screen the arriving batch against the OR of every prior
         batch's persisted bitmap (bloom_screen: scan speed, zero
         shuffle, no key store read) — drops every already-ingested
         key plus an ~fpp fraction of clean rows (APPROXIMATE gate;
         acceptable where LSH-grade approximation already is);
      2. exact within-batch dedup (min-id representative per key);
      3. write survivors to ``output_path/batch_id=N/`` and THEIR
         bitmap (fixed geometry) to ``store_path/batch_id=N/``.

    Replay/exactly-once: both writes overwrite batch_id-keyed subdirs
    (the idempotent crash-restart layout shared with the minhash
    ingest), and the screen excludes the current batch's own bitmap,
    so a replayed batch makes the identical drop decision whichever
    side of a crash the store write landed on. The per-batch bitmaps
    are num_bits/8 bytes each and the screen ORs them on the executors
    (the driver holds one merged bitmap); on long streams, fold old
    subdirs periodically with operators.bloom.compact_bloom_store —
    the OR is exactly the union filter, so compaction never changes
    answers. Geometry is FIXED by the operator args: size
    num_bits for the total ingested-corpus cardinality, not the batch
    (fpp is driven by total set bits)."""
    process = functools.partial(
        ingest_bloom_batch,
        store_path=store_path,
        output_path=output_path,
        key_col=key_col,
        id_col=id_col,
        num_bits=num_bits,
        num_hashes=num_hashes,
    )
    return _start_foreach_batch(stream_df, process, checkpoint, available_now)

"""Batch-replay equivalence for the streaming family: every query in
streaming/fanout.py runs over a DETERMINISTIC MULTI-micro-batch input
(file source, maxFilesPerTrigger=1, files mtime-ordered) with outputs
captured via foreachBatch, and the union of emitted rows must equal
the batch twin's result EXACTLY — value-checked streaming, not just
"produces rows".

The watermark-flush trick: append-mode aggregations only emit windows
the watermark has passed, so each aggregation input ends with a
SENTINEL file whose single event sits far enough in the future
(> watermark + window) that every real window closes; the sentinel's
own window never emits (no later data) and is excluded from the batch
twin. This makes streaming-vs-batch equality exact, not approximate.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hadoop_multiple_streaming_spark.streaming.fanout import (
    running_counts,
    session_rollup,
    streaming_curation,
    streaming_dedup,
    windowed_rollup,
)
from hadoop_multiple_streaming_spark.workloads.tables import (
    load,
    normalize_events_ts,
)

SF_DIR = "/root/testdata/sf0.001"


def _stage_files(spark, dfs, outdir):
    """Write each DataFrame as one parquet file with ascending mtimes
    so the file source replays them in this exact order."""
    os.makedirs(outdir, exist_ok=True)
    paths = []
    for i, df in enumerate(dfs):
        tmp = os.path.join(outdir, f"_stage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            f for f in os.listdir(tmp) if f.startswith("part-") and f.endswith(".parquet")
        )
        dst = os.path.join(outdir, f"batch-{i:03d}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1_700_000_000 + i * 1000, 1_700_000_000 + i * 1000))
        paths.append(dst)
    # drop the stage dirs so the source sees only the data files
    import shutil

    for i in range(len(dfs)):
        shutil.rmtree(os.path.join(outdir, f"_stage{i}"), ignore_errors=True)
    return paths


def _read_stream(spark, indir, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )


def _run_collect(stream_out, tmp_path, mode):
    """Drive the streaming query to completion via foreachBatch,
    returning every (batch_id, Row) emitted."""
    collected = []

    def sink(batch_df, batch_id):
        collected.extend((batch_id, r) for r in batch_df.collect())

    q = (
        stream_out.writeStream.foreachBatch(sink)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return collected


def _events_in_batches(spark, n_files=4):
    """Real events table, ts-sorted and split into n contiguous files
    (monotone event time across batches -> no late-data drops), plus a
    watermark-flush sentinel 10 h past the last real event."""
    ev = normalize_events_ts(load(spark, SF_DIR, "events"))
    rows = ev.orderBy("ts").collect()
    chunk = (len(rows) + n_files - 1) // n_files
    frames = [
        spark.createDataFrame(rows[i : i + chunk], ev.schema)
        for i in range(0, len(rows), chunk)
    ]
    max_ts = rows[-1].ts
    sentinel = spark.createDataFrame(
        [(-1, max_ts, -1, "__sentinel__", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 HOURS"))
    frames.append(sentinel.select(*[f.name for f in ev.schema.fields]))
    return ev, frames


def test_windowed_rollup_equals_batch(spark, tmp_path):
    ev, frames = _events_in_batches(spark)
    indir = str(tmp_path / "in")
    _stage_files(spark, frames, indir)
    stream = _read_stream(spark, indir, frames[0].schema)
    out = windowed_rollup(stream, ts_col="ts", key_col="event_type", window="1 hour")
    got = {
        (r.window_start, r.event_type): (r.cnt, round(r.sum_value, 9))
        for _, r in _run_collect(out, tmp_path, "append")
    }
    want = {
        (r.window_start, r.event_type): (r.cnt, round(r.sum_value, 9))
        for r in (
            ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.col("value").cast("double")).alias("sum_value"),
            )
            .select(F.col("win.start").alias("window_start"), "event_type", "cnt", "sum_value")
        ).collect()
    }
    assert got == want  # every real window emitted, all values exact


def test_session_rollup_equals_batch(spark, tmp_path):
    ev, frames = _events_in_batches(spark)
    indir = str(tmp_path / "in")
    _stage_files(spark, frames, indir)
    stream = _read_stream(spark, indir, frames[0].schema)
    out = session_rollup(stream, ts_col="ts", key_col="user_id", gap="30 minutes")
    got = {
        (r.session_start, r.session_end, r.user_id): r.n_events
        for _, r in _run_collect(out, tmp_path, "append")
    }
    want = {
        (r.session_start, r.session_end, r.user_id): r.n_events
        for r in (
            ev.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("win.start").alias("session_start"),
                F.col("win.end").alias("session_end"),
                "user_id",
                "n_events",
            )
        ).collect()
    }
    assert got == want


def test_running_counts_equals_batch(spark, tmp_path):
    ev, frames = _events_in_batches(spark)
    real_frames = frames[:-1]  # stateless of watermarks; no sentinel needed
    indir = str(tmp_path / "in")
    _stage_files(spark, real_frames, indir)
    stream = _read_stream(spark, indir, real_frames[0].schema).select(
        F.col("event_type").alias("key")
    )
    out = running_counts(stream, key_col="key")
    rows = _run_collect(out, tmp_path, "update")
    assert len({b for b, _ in rows}) >= 2, "state must span several micro-batches"
    final = {}
    for batch_id, r in sorted(rows, key=lambda t: t[0]):
        final[r.key] = r.total  # last update per key wins
    want = {
        r.event_type: r.cnt
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert final == want


def _docs_in_batches(spark, n_keys=10):
    """Documents replayed with forced cross-batch duplicates: key =
    doc_id % n_keys, one row per key per file, ts strictly increasing
    with file order, so 'first arrival per key' is exactly the rows of
    file 0 — a deterministic batch twin."""
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    docs = sorted(docs, key=lambda r: r.doc_id)
    base = "2024-03-01 00:00:00"
    rows = [
        (int(r.doc_id % n_keys), r.text, int(r.doc_id))
        for r in docs
    ]
    frames = []
    for start in range(0, len(rows), n_keys):
        chunk = rows[start : start + n_keys]
        frames.append(
            spark.createDataFrame(
                chunk, "doc_id long, text string, seq long"
            ).withColumn(
                "ts",
                F.to_timestamp(F.lit(base)) + F.make_interval(secs=F.col("seq")),
            ).drop("seq")
        )
    return frames


def test_streaming_dedup_equals_batch_first_arrival(spark, tmp_path):
    frames = _docs_in_batches(spark)
    indir = str(tmp_path / "in")
    _stage_files(spark, frames, indir)
    stream = _read_stream(spark, indir, frames[0].schema)
    out = streaming_dedup(stream, ["doc_id"], ts_col="ts", watermark="1 hour")
    got = sorted(
        (r.doc_id, r.text, r.ts) for _, r in _run_collect(out, tmp_path, "append")
    )
    # batch twin: earliest-ts row per key
    from pyspark.sql import Window

    union = frames[0]
    for f in frames[1:]:
        union = union.unionByName(f)
    w = Window.partitionBy("doc_id").orderBy("ts")
    want = sorted(
        (r.doc_id, r.text, r.ts)
        for r in union.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .collect()
    )
    assert got == want


def test_streaming_curation_equals_batch(spark, tmp_path):
    from hadoop_multiple_streaming_spark.operators.text import (
        quality_score,
        redact_pii,
    )

    frames = _docs_in_batches(spark)
    indir = str(tmp_path / "in")
    _stage_files(spark, frames, indir)
    stream = _read_stream(spark, indir, frames[0].schema)
    # median-ish gate so the filter genuinely drops documents
    out = streaming_curation(
        stream, text_col="text", id_col="doc_id", ts_col="ts",
        watermark="1 hour", min_quality=0.5,
    )
    got = sorted(
        tuple(r) for _, r in _run_collect(out, tmp_path, "append")
    )
    union = frames[0]
    for f in frames[1:]:
        union = union.unionByName(f)
    scored = union.withColumn("quality", quality_score(F.col("text")))
    kept = scored.where(F.col("quality") >= 0.5)
    redacted = redact_pii(kept, "text", "doc_id", keep_cols=["ts", "quality"])
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("ts")
    want = sorted(
        tuple(r)
        for r in redacted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .collect()
    )
    assert got, "curation stream produced no rows"
    assert got == want


def test_stream_fanout_equals_batch_run_job(spark, tmp_path):
    """The fan-out itself, streaming vs batch: the SAME Branch specs
    (a subprocess pipe mapper and a native callable) run through the
    batch runner and through stream_fanout over a multi-micro-batch
    replay of the same files — per-branch output multisets must be
    identical."""
    import sys as _sys

    from hadoop_multiple_streaming_spark.plans.model import Branch, JobSpec
    from hadoop_multiple_streaming_spark.plans.runner import run_job
    from hadoop_multiple_streaming_spark.streaming.fanout import stream_fanout

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "f0.txt").write_text("the quick fox\nthe lazy dog\n")
    (indir / "f1.txt").write_text("the fox\n")
    (indir / "f2.txt").write_text("quick quick fox\n")
    for i in range(3):
        os.utime(indir / f"f{i}.txt", (1_700_000_000 + i, 1_700_000_000 + i))

    wc_map = tmp_path / "wc_map.py"
    wc_map.write_text(
        "#!/usr/bin/env python3\nimport sys\n"
        "for line in sys.stdin:\n"
        "    for w in line.split():\n"
        "        print(w + '\\t1')\n"
    )

    def upper_mapper(df):
        return df.select(F.upper(df.columns[0]).alias("value"))

    def branches():
        return [
            Branch("WC", mapper=f"{_sys.executable} {wc_map}"),
            Branch("UP", mapper=upper_mapper),
        ]

    # batch twin
    bout = str(tmp_path / "bout")
    assert run_job(
        spark,
        JobSpec(inputs=[str(indir)], output=bout, branches=branches(), overwrite=True),
    ).succeeded

    # streaming run, one file per micro-batch
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(indir))
    )
    sout = str(tmp_path / "sout")
    q = stream_fanout(
        stream, branches(), output=sout, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    for key in ("WC", "UP"):
        got = sorted(r.value for r in spark.read.text(f"{sout}/{key}").collect())
        want = sorted(r.value for r in spark.read.text(f"{bout}/{key}").collect())
        assert got == want, key


def test_stream_fanout_reducers_equal_batch_run_job(spark, tmp_path):
    """Pipe and aggregate reducers run per micro-batch: over a one-file
    stream (one micro-batch) every branch writes what run_job writes
    for the same file, and NONE stays map-only."""
    import sys as _sys

    from hadoop_multiple_streaming_spark.plans.model import AGGREGATE, NONE, Branch, JobSpec
    from hadoop_multiple_streaming_spark.plans.runner import run_job
    from hadoop_multiple_streaming_spark.streaming.fanout import stream_fanout

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "f0.txt").write_text("the quick fox\nthe lazy dog\nthe fox\n")
    wc_map = tmp_path / "wc_map.py"
    wc_map.write_text(
        "import sys\n"
        "for line in sys.stdin:\n"
        "    for w in line.split():\n"
        "        print(w + '\\t1')\n"
    )
    wc_red = tmp_path / "wc_red.py"
    wc_red.write_text(
        "import sys\n"
        "cur, tot = None, 0\n"
        "for line in sys.stdin:\n"
        "    k, v = line.rstrip('\\n').split('\\t', 1)\n"
        "    if k != cur:\n"
        "        if cur is not None: print(cur + '\\t' + str(tot))\n"
        "        cur, tot = k, 0\n"
        "    tot += int(v)\n"
        "if cur is not None: print(cur + '\\t' + str(tot))\n"
    )

    def agg_mapper(df):  # single line column, whatever it is called
        words = df.select(F.explode(F.split(df.columns[0], " ")).alias("w"))
        return words.select(F.concat(F.lit("LongValueSum:"), "w", F.lit("\t1")))

    def branches():
        return [
            Branch("WC", f"{_sys.executable} {wc_map}", f"{_sys.executable} {wc_red}"),
            Branch("AGG", agg_mapper, AGGREGATE),
            Branch("CAT", "cat", NONE),
        ]

    bout = str(tmp_path / "bout")
    assert run_job(
        spark, JobSpec(inputs=[str(indir)], output=bout, branches=branches())
    ).succeeded
    sout = str(tmp_path / "sout")
    q = stream_fanout(
        spark.readStream.format("text").load(str(indir)),
        branches(),
        output=sout,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    for key in ("WC", "AGG", "CAT"):
        got = sorted(r.value for r in spark.read.text(f"{sout}/{key}").collect())
        want = sorted(r.value for r in spark.read.text(f"{bout}/{key}").collect())
        assert got == want, key
        if key != "CAT":  # reduced, not just mapped
            assert got == ["dog\t1", "fox\t2", "lazy\t1", "quick\t1", "the\t3"], key


def test_streaming_incremental_minhash_equals_batch(spark, tmp_path):
    """The foreachBatch incremental MinHash screen must equal the
    BATCH composition of the same operators applied batch-after-batch:
    identical surviving doc ids per batch AND an identical final
    bucket store (as a key set)."""
    from hadoop_multiple_streaming_spark.operators.dedup import (
        minhash_band_buckets,
        minhash_signatures,
        word_shingles,
    )
    from hadoop_multiple_streaming_spark.streaming.fanout import (
        streaming_incremental_minhash,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, base),
        (2, "completely different words about spark shuffles and joins"),
        (3, base + " tail"),              # near-dup of 1, SAME batch -> dropped
        (10, base + " trailing extra"),   # near-dup of 1, NEXT batch -> dropped
        (11, "novel second batch content nothing like the others"),
        (12, "novel second batch content nothing like the others ok"),  # near-dup of 11
    ]
    b1 = spark.createDataFrame(docs[:3], "doc_id long, text string")
    b2 = spark.createDataFrame(docs[3:], "doc_id long, text string")
    indir = str(tmp_path / "in")
    _stage_files(spark, [b1, b2], indir)

    store_path = str(tmp_path / "store")
    out_path = str(tmp_path / "out")
    q = streaming_incremental_minhash(
        _read_stream(spark, indir, "doc_id long, text string"),
        store_path,
        out_path,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    # batch twin, replayed sequentially with the batch operators
    def batch_step(batch_df, store_df):
        sh = word_shingles(batch_df, "text", "doc_id", n=3, distinct=False)
        sig = minhash_signatures(sh, num_hashes=16)
        buckets = minhash_band_buckets(sig, rows_per_band=2)
        cross = (
            buckets.join(store_df, ["band", "bucket"], "left_semi").select("id")
            if store_df is not None
            else buckets.select("id").limit(0)
        )
        rep = buckets.groupBy("band", "bucket").agg(F.min("id").alias("_keep"))
        within = (
            buckets.join(rep, ["band", "bucket"])
            .where(F.col("id") != F.col("_keep"))
            .select("id")
        )
        dropped = cross.unionByName(within).distinct()
        surv = batch_df.join(
            dropped.withColumnRenamed("id", "doc_id"), ["doc_id"], "left_anti"
        )
        surv_buckets = buckets.join(
            surv.select(F.col("doc_id").alias("id")), ["id"], "left_semi"
        ).select("band", "bucket")
        return surv, surv_buckets

    s1, k1 = batch_step(b1, None)
    s2, k2 = batch_step(b2, k1)
    want_ids = {r.doc_id for r in s1.collect()} | {r.doc_id for r in s2.collect()}
    want_store = {(r.band, r.bucket) for r in k1.collect()} | {
        (r.band, r.bucket) for r in k2.collect()
    }

    got_ids = {r.doc_id for r in spark.read.parquet(out_path).collect()}
    got_store = {
        (r.band, r.bucket) for r in spark.read.parquet(store_path).collect()
    }
    assert got_ids == want_ids
    assert got_store == want_store
    # the screen actually dropped the planted near-dups
    assert got_ids == {1, 2, 11}


def test_streaming_incremental_minhash_restart_no_reprocess(spark, tmp_path):
    """Stopping after batch 1 and restarting with the SAME checkpoint
    must process only the newly-arrived file: batch-1 survivors appear
    exactly once in the output, and the second run still screens
    against the store built by the first."""
    from hadoop_multiple_streaming_spark.streaming.fanout import (
        streaming_incremental_minhash,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b1 = spark.createDataFrame(
        [(1, base), (2, "unrelated first batch words entirely")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(10, base + " tail"), (11, "fresh second batch content")],
        "doc_id long, text string",
    )
    indir = str(tmp_path / "in")
    store_path = str(tmp_path / "store")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _stage_files(spark, [b1], indir)
    q = streaming_incremental_minhash(
        _read_stream(spark, indir, "doc_id long, text string"),
        store_path, out_path, ckpt,
    )
    q.awaitTermination(300)
    first = sorted(r.doc_id for r in spark.read.parquet(out_path).collect())
    assert first == [1, 2]

    # new file arrives; RESTART from the same checkpoint
    import os

    df2_dir = str(tmp_path / "stage2")
    b2.coalesce(1).write.mode("overwrite").parquet(df2_dir)
    part = next(
        f for f in os.listdir(df2_dir)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    os.rename(os.path.join(df2_dir, part), os.path.join(indir, "batch-001.parquet"))
    q2 = streaming_incremental_minhash(
        _read_stream(spark, indir, "doc_id long, text string"),
        store_path, out_path, ckpt,
    )
    q2.awaitTermination(300)
    final = sorted(r.doc_id for r in spark.read.parquet(out_path).collect())
    # batch 1 NOT reprocessed (1, 2 appear once); 10 dropped as a
    # near-dup of stored doc 1; 11 survives
    assert final == [1, 2, 11]


def test_streaming_incremental_minhash_replay_idempotent(spark, tmp_path):
    """Batch retry must be EXACTLY-ONCE on disk: replaying a
    micro-batch — from either side of a crash between the survivor
    write and the store write — leaves zero duplicate ids in the
    output AND an unchanged store key set. Drives the real engine for
    the first run, then re-invokes the extracted batch processor with
    the same batch_id exactly as the streaming engine's retry does."""
    import shutil

    from hadoop_multiple_streaming_spark.streaming.fanout import (
        ingest_minhash_batch,
        streaming_incremental_minhash,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b1 = spark.createDataFrame(
        [(1, base), (2, "unrelated first batch words entirely")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(10, base + " tail"), (11, "fresh second batch content")],
        "doc_id long, text string",
    )
    indir = str(tmp_path / "in")
    store_path = str(tmp_path / "store")
    out_path = str(tmp_path / "out")
    _stage_files(spark, [b1, b2], indir)
    q = streaming_incremental_minhash(
        _read_stream(spark, indir, "doc_id long, text string"),
        store_path, out_path, str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    def snapshot():
        out = sorted(r.doc_id for r in spark.read.parquet(out_path).collect())
        store = sorted(
            (r.band, r.bucket) for r in spark.read.parquet(store_path).collect()
        )
        return out, store

    want_out, want_store = snapshot()
    assert want_out == [1, 2, 11]  # 10 dropped as near-dup of stored 1
    assert len(set(want_store)) == len(want_store)  # no dup keys either

    # crash AFTER both writes, before checkpoint commit: the engine
    # replays batch 1 in full. The store probe must not self-collide
    # (doc 11's own stored keys) and the overwrite must not duplicate.
    ingest_minhash_batch(b2, 1, store_path, out_path)
    assert snapshot() == (want_out, want_store)

    # crash BETWEEN the writes: survivors landed, store keys did not.
    shutil.rmtree(f"{store_path}/batch_id=1")
    ingest_minhash_batch(b2, 1, store_path, out_path)
    assert snapshot() == (want_out, want_store)

    # crash BEFORE both writes: neither landed.
    shutil.rmtree(f"{store_path}/batch_id=1")
    shutil.rmtree(f"{out_path}/batch_id=1")
    ingest_minhash_batch(b2, 1, store_path, out_path)
    assert snapshot() == (want_out, want_store)

    # crash MID-store-write: a TORN part-file sits in this batch's own
    # store subdir. Partition pruning skips its rows, but parquet
    # schema inference would still open the corrupt footer — the batch
    # start must heal (delete) its own subdir so the retry converges
    # instead of failing forever. (A corrupt file belonging to ANOTHER
    # batch must still fail the batch — pinned by
    # test_streaming_incremental_minhash_corrupt_store_fails_batch.)
    shutil.rmtree(f"{store_path}/batch_id=1")
    os.makedirs(f"{store_path}/batch_id=1")
    with open(f"{store_path}/batch_id=1/part-00000.parquet", "wb") as f:
        f.write(b"torn mid-write, not a parquet footer")
    ingest_minhash_batch(b2, 1, store_path, out_path)
    assert snapshot() == (want_out, want_store)


def test_streaming_incremental_minhash_corrupt_store_fails_batch(spark, tmp_path):
    """A bucket store that EXISTS but cannot be read must FAIL the
    micro-batch (so the engine retries) — not silently degrade to
    'first batch' with cross-batch screening disabled. Only a
    genuinely missing store path reads as empty."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from hadoop_multiple_streaming_spark.streaming.fanout import (
        streaming_incremental_minhash,
    )

    b1 = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    indir = str(tmp_path / "in")
    _stage_files(spark, [b1], indir)
    store_path = str(tmp_path / "store")
    # a store directory that exists with a corrupt parquet file inside
    os.makedirs(store_path)
    with open(os.path.join(store_path, "part-0.parquet"), "wb") as f:
        f.write(b"this is not parquet")
    q = streaming_incremental_minhash(
        _read_stream(spark, indir, "doc_id long, text string"),
        store_path,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(300)
        raise AssertionError("query should have failed on the corrupt store")


@pytest.mark.parametrize("ingest", ["ingest_minhash_batch", "ingest_bloom_batch"])
def test_ingest_batch_fails_on_unreadable_store(spark, tmp_path, ingest):
    """A store dir that holds parquet but not the ``batch_id=`` layout
    is not an empty store: both ingest bodies must fail the batch (so
    the engine retries it) and write no survivors."""
    from pyspark.errors import AnalysisException

    from hadoop_multiple_streaming_spark.streaming import fanout

    store_path = str(tmp_path / "store")
    out_path = str(tmp_path / "out")
    spark.range(3).write.parquet(store_path)
    batch = spark.createDataFrame(
        [(1, "one two three four five six"), (2, "seven eight nine ten eleven")],
        "doc_id long, text string",
    )
    with pytest.raises(AnalysisException, match="batch_id"):
        getattr(fanout, ingest)(batch, 0, store_path, out_path)
    assert not os.path.exists(out_path)


def test_streaming_bloom_screen_exact_dedup_across_batches(spark, tmp_path):
    """The Bloom ingest gate: exact duplicates of already-ingested keys
    drop across micro-batches (no false negatives), within-batch dups
    keep the min id, and the per-batch bitmap store unions to exactly
    the survivor key set (merge_blooms law)."""
    from hadoop_multiple_streaming_spark.operators.bloom import (
        load_bloom,
        merge_blooms,
        might_contain,
    )
    from hadoop_multiple_streaming_spark.streaming.fanout import (
        streaming_bloom_screen,
    )

    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")],  # 3 = within-batch dup
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "beta")],  # 10/12 = cross-batch dups
        "doc_id long, text string",
    )
    indir = str(tmp_path / "in")
    _stage_files(spark, [b1, b2], indir)

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    q = streaming_bloom_screen(
        _read_stream(spark, indir, "doc_id long, text string"),
        store,
        out,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    got = {
        (r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()
    }
    # fpp at 2^20 bits / ~4 keys is ~0, so the approximate gate is
    # exact on this input
    assert got == {(1, "alpha"), (2, "beta"), (11, "gamma")}

    # the merged store bitmap answers might_contain for every survivor
    import glob as _glob

    blooms = [
        load_bloom(spark, d) for d in sorted(_glob.glob(store + "/batch_id=*"))
    ]
    merged = merge_blooms(*blooms)
    probe = spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",), ("never-seen",)], "k string"
    )
    bf = spark.createDataFrame([(merged.words,)], "_b array<bigint>")
    hits = {
        r["k"]
        for r in probe.join(F.broadcast(bf))
        .where(might_contain(F.col("k"), F.col("_b"), merged))
        .collect()
    }
    assert {"alpha", "beta", "gamma"} <= hits  # no false negatives


def test_bloom_ingest_folds_prior_bitmaps_like_merge_blooms(spark, tmp_path):
    """ingest_bloom_batch ORs the prior batches' bitmaps on the
    executors: over three prior batches it keeps exactly what a
    bloom_screen against merge_blooms of the same bitmaps keeps (then
    the min id per key), and a prior batch of another geometry fails
    the batch before anything is written."""
    from hadoop_multiple_streaming_spark.operators.bloom import (
        bloom_screen,
        build_bloom,
        load_bloom,
        merge_blooms,
        save_bloom,
    )
    from hadoop_multiple_streaming_spark.streaming.fanout import ingest_bloom_batch

    def store_of(name, keysets, bits):
        path = str(tmp_path / name)
        for i, (keys, nb) in enumerate(zip(keysets, bits)):
            keys_df = spark.createDataFrame([(k,) for k in keys], "text string")
            save_bloom(spark, build_bloom(keys_df, "text", num_bits=nb), f"{path}/batch_id={i}")
        return path

    keysets = [["a", "b"], ["c"], ["d", "e"]]
    store = store_of("store", keysets, [1024] * 3)
    batch = spark.createDataFrame(
        [(10, "a"), (11, "c"), (12, "e"), (13, "f"), (14, "f"), (15, "g")],
        "doc_id long, text string",
    )
    out = str(tmp_path / "out")
    ingest_bloom_batch(batch, 3, store, out, num_bits=1024)
    got = sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(f"{out}/batch_id=3").collect()
    )
    merged = merge_blooms(*[load_bloom(spark, f"{store}/batch_id={i}") for i in range(3)])
    screened = bloom_screen(batch, "text", merged).groupBy("text").agg(
        F.min("doc_id").alias("doc_id")
    )
    assert got == sorted((r.doc_id, r.text) for r in screened.collect())
    assert got == [(13, "f"), (15, "g")]

    bad = store_of("bad", keysets, [1024, 2048, 1024])
    bad_out = str(tmp_path / "bad_out")
    with pytest.raises(ValueError, match="geometry mismatch"):
        ingest_bloom_batch(batch, 3, bad, bad_out, num_bits=1024)
    assert not os.path.exists(bad_out)


def test_merge_blooms_rejects_geometry_mismatch(spark):
    from hadoop_multiple_streaming_spark.operators.bloom import (
        BloomFilterSpec,
        merge_blooms,
    )

    a = BloomFilterSpec(words=[1, 2], num_bits=128, num_hashes=5, n_keys=1)
    b = BloomFilterSpec(words=[1], num_bits=64, num_hashes=5, n_keys=1)
    with pytest.raises(ValueError, match="geometry mismatch"):
        merge_blooms(a, b)
    m = merge_blooms(a, BloomFilterSpec(words=[4, 8], num_bits=128, num_hashes=5, n_keys=2))
    assert m.words == [5, 10] and m.n_keys == 3

"""Spark-vs-DuckDB scaling curve for the two dedup "floor" queries.

DEPLOY.md decomposes dedup_minhash_lsh / dedup_ngram_jaccard into a
~1.4 s Spark constant (scheduling + codegen across 4-6 stages) plus a
marginal cost at or below DuckDB's; this tool measures both engines at
several scale factors to show the predicted crossover (ratio <= 2x once
work dominates the constant). Same estimator on both sides as
bench.py / tools/bench_baseline.py: warm pass, then min of two timed
runs; Spark executes to the noop sink, DuckDB fetchall()s.

    python tools/gen_scaled_docs.py 0.5 1.0        # once
    python tools/bench_crossover.py /root/testdata/sf0.01 \
        /root/testdata/sf0.1 .localdata/sf0.5 .localdata/sf1.0

Prints one JSON line per (sf, query, engine) and a final summary table.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    # round-7 additions: the auto-sized sign-LSH (band geometry derived
    # from count(*) on BOTH engines, so the workload self-scales) and
    # the two scan-shaped curation ops (substring decon's anchor join,
    # the frozen-classifier scoring scan)
    "dedup_embedding_lsh_auto",
    "substring_decontamination",
    "quality_model_score",
    "semantic_dedup",
    # round-8 additions: the auto-sized SemDeDup default path (k and
    # seeds derived from count(*) on BOTH engines — the workload
    # self-scales like the auto LSH) and the winnowing/span family,
    # which shipped in round 7 with sf0.1 ratios but no at-scale rows
    "semantic_dedup_auto",
    # round-10 addition: the hierarchical (coarse-fine) SemDeDup —
    # the path semantic_dedup's auto budget reroutes to at scale; its
    # doubling curve is the replacement for flat's superlinear n*k row
    "semantic_dedup_hier",
    "text_winnowing",
    "winnowing_pairs",
    "duplicate_span_mining",
    # round-11 additions: the three new corpus-selection operators —
    # mixture quotas (one corpus window), global-shuffle ordinals and
    # token-budget fill (two-pass range-bucketed prefix sums)
    "mixture_sample_docs",
    "global_shuffle_docs",
    "token_budget_pick",
    "ann_ivfpq_adc",
    "selection_pipeline",
    # round-12/13 additions: the session-two operators measured in the
    # CROSSOVER round-12 addendum III (and re-measured in r13 after the
    # corpus_health hash-pair rewrite), plus the containment twin on
    # the Zipf corpora
    "cdc_apply",
    "text_bpe_pairs",
    "corpus_health",
    "dedup_containment",
    "bloom_decontaminate",
    # round-14 addition: tokenizer application (greedy vocab
    # segmentation; word-frequency exchange + distinct-word kernel)
    "text_vocab_tokenize",
]

# The catalog's dedup_embedding_lsh is parameterized for the DRIVER
# corpus (2k vectors, weak 0.45 similarity): 8 bands x 4 sign bits =
# 1/16 random-pair collision per band, i.e. candidates ~ n^2/4 — fine
# at 2k, quadratic death at 20k+ on BOTH engines (measured: DuckDB
# 494 s at sf1.0; Spark ran out of broadcast memory). The scale rule
# (DEPLOY.md): collision = 2^-bits_per_band, so GROW bits with the
# corpus. This tool therefore benches a scale-parameterized variant
# (64 planes, 8 bands x 8 bits -> 1/256 per band, threshold 0.8 to
# match the generated near-dup cosine) built from the same operator +
# oracle builder the catalog query uses.


def _scaled_embedding_lsh():
    from pyspark.sql import functions as F

    from hadoop_multiple_streaming_spark.operators.dedup import (
        embedding_lsh_pairs,
        planes_duckdb_literal,
        quantize_embeddings,
        rademacher_planes,
    )
    from hadoop_multiple_streaming_spark.workloads.dedup import _QUANT_CTE
    from hadoop_multiple_streaming_spark.workloads.tables import load

    def q(spark, sf_dir):
        emb = load(spark, sf_dir, "embeddings")
        qz = quantize_embeddings(emb, "embedding", "vec_id")
        return embedding_lsh_pairs(
            qz, threshold=0.8, num_planes=64, rows_per_band=8, dim=64
        )

    pl = planes_duckdb_literal(rademacher_planes(64, 64))
    sql = f"""
    WITH {_QUANT_CTE},
    bits AS (SELECT id, p,
                    CASE WHEN list_inner_product(qv, ({pl})[p + 1]) > 0
                         THEN '1' ELSE '0' END AS bit
             FROM n, UNNEST(range(0, 64)) t(p)),
    sig AS (SELECT id, string_agg(bit, '' ORDER BY p) AS sig FROM bits GROUP BY id),
    bands AS (SELECT id, b, substr(sig, CAST(b * 8 + 1 AS INT), 8) AS bucket
              FROM sig, UNNEST(range(0, 8)) t(b)),
    cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
             FROM bands a JOIN bands b
               ON a.b = b.b AND a.bucket = b.bucket AND a.id < b.id)
    SELECT c.id_a, c.id_b,
           CAST(list_inner_product(na.qv, nb.qv) AS DOUBLE)
               / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
    FROM cand c
    JOIN n na ON na.id = c.id_a
    JOIN n nb ON nb.id = c.id_b
    WHERE CAST(list_inner_product(na.qv, nb.qv) AS DOUBLE)
              / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.8
    """
    return q, sql
def _scaled_semantic_dedup():
    """SemDeDup with SCALE-APPROPRIATE k (the DEPLOY.md rule: k grows
    with the corpus so in-cluster pairing stays bounded): k = 100
    clusters seeded from (label, hash(id) % 10) group means instead of
    the catalog query's k = 10 labels — at 40k vectors that cuts the
    in-cluster pair space ~10x on BOTH engines. Same operators, same
    math, same oracle construction as the catalog query."""
    from pyspark.sql import functions as F

    from hadoop_multiple_streaming_spark.functions.sampling import hash_value
    from hadoop_multiple_streaming_spark.operators.dedup import (
        quantize_embeddings,
        semantic_dedup,
    )
    from hadoop_multiple_streaming_spark.operators.similarity import kmeans_lloyd
    from hadoop_multiple_streaming_spark.workloads.similarity import _centroid_sums
    from hadoop_multiple_streaming_spark.workloads.tables import load

    def q(spark, sf_dir):
        emb = load(spark, sf_dir, "embeddings")
        base = emb.select(
            F.col("vec_id").alias("id"),
            "label",
            F.expr(
                "transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))"
            ).alias("qv"),
        ).withColumn("grp", F.col("label") * 10 + hash_value(F.col("id")) % 10)
        init = _centroid_sums(base, "grp", "cluster", "n").select(
            "cluster",
            F.expr("transform(sums, s -> cast(s as double) / n)").alias("c"),
        )
        assigned = kmeans_lloyd(base.select("id", "qv"), init, iters=2)
        quant = quantize_embeddings(emb, "embedding", "vec_id")
        return semantic_dedup(quant, assigned, threshold=0.45)

    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(id AS VARCHAR)), {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    sql = f"""
    WITH q AS (SELECT vec_id AS id,
                      label * 10 + ({nibbles}) % 10 AS grp,
                      list_transform(embedding,
                                     x -> CAST(round(CAST(x AS DOUBLE) * 1000000)
                                               AS BIGINT)) AS qv
               FROM embeddings),
    dims0 AS (SELECT grp, i, SUM(qv[CAST(i AS INT)]) AS s, COUNT(*) AS n
              FROM q, UNNEST(range(1, 65)) t(i) GROUP BY grp, i),
    cent0 AS (SELECT grp AS cluster,
                     array_agg(CAST(s AS DOUBLE) / n ORDER BY i) AS c
              FROM dims0 GROUP BY grp),
    d1 AS (SELECT q.id, q.qv, cent0.cluster,
                  list_aggregate(list_transform(range(1, 65),
                      i -> (CAST(qv[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
                           * (CAST(qv[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
                      'sum') AS dist
           FROM q CROSS JOIN cent0),
    a1 AS (SELECT id, qv, cluster FROM (
               SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist, cluster) AS rn
               FROM d1) WHERE rn = 1),
    dims1 AS (SELECT cluster, i, SUM(qv[CAST(i AS INT)]) AS s, COUNT(*) AS n
              FROM a1, UNNEST(range(1, 65)) t(i) GROUP BY cluster, i),
    cent1 AS (SELECT cluster,
                     array_agg(CAST(s AS DOUBLE) / n ORDER BY i) AS c
              FROM dims1 GROUP BY cluster),
    d2 AS (SELECT q.id, cent1.cluster,
                  list_aggregate(list_transform(range(1, 65),
                      i -> (CAST(qv[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])
                           * (CAST(qv[CAST(i AS INT)] AS DOUBLE) - c[CAST(i AS INT)])),
                      'sum') AS dist
           FROM q CROSS JOIN cent1),
    a2 AS (SELECT id, cluster FROM (
               SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist, cluster) AS rn
               FROM d2) WHERE rn = 1),
    mem AS (SELECT a2.id, a2.cluster, q.qv,
                   list_inner_product(q.qv, q.qv) AS n2
            FROM a2 JOIN q ON q.id = a2.id),
    drops AS (SELECT DISTINCT b.id
              FROM mem a JOIN mem b
                ON a.cluster = b.cluster AND a.id < b.id
              WHERE CAST(list_inner_product(a.qv, b.qv) AS DOUBLE)
                    / (sqrt(a.n2) * sqrt(b.n2)) >= 0.45)
    SELECT m.id, m.cluster, (d.id IS NULL) AS keep
    FROM mem m LEFT JOIN drops d ON m.id = d.id
    """
    return q, sql


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _sf(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def time_spark(spark, fn, sf_dir: str) -> float:
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()  # warm
    best = -1.0
    for _ in range(2):
        t0 = time.monotonic()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        dt = time.monotonic() - t0
        best = dt if best < 0 else min(best, dt)
    return round(best, 3)


_DUCK_RUNNER = r"""
import json, sys, time
import duckdb
sf_dir, cpus = sys.argv[1], int(sys.argv[2])
sql = sys.stdin.read()
con = duckdb.connect()
con.execute(f"SET threads TO {cpus}")
# long queries print a progress bar to STDOUT in a subprocess,
# corrupting the one-JSON-line protocol — force it off
con.execute("SET enable_progress_bar = false")
# hard allocator ceiling: without it the sf4.0 ngram oracle grew to
# 130 GB RSS and the KERNEL OOM-killer took the whole machine down
# with it (including the idle Spark JVM — every later measurement in
# the run then failed with Connection refused). With the cap DuckDB
# raises OutOfMemoryException in-process instead, which records as an
# honest DNF. No spill fallback: the host has <25 GB of free disk.
con.execute("SET memory_limit = '80GB'")
for t in %r.split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
con.execute(sql).fetchall()  # warm
best = -1.0
for _ in range(2):
    t0 = time.monotonic()
    con.execute(sql).fetchall()
    dt = time.monotonic() - t0
    best = dt if best < 0 else min(best, dt)
print(json.dumps({"sec": round(best, 3)}))
""" % (" ".join(TABLES))


def time_duck_subprocess(sf_dir: str, sql: str, cpus: int) -> float:
    """Same warm + min-of-2 estimator, but in a FRESH OS process.

    Needed at sf >= 4.0: one DuckDB OOM inside this process poisons
    the allocator for every SUBSEQUENT in-process connection (observed:
    after the first genuine OOM, fresh connections fail 8-byte
    allocations with 123 GB free). Process isolation gives each query
    the full allocator; the timing loop runs inside the child, so the
    process-start cost never lands in the measurement."""
    import subprocess

    r = subprocess.run(
        [sys.executable, "-c", _DUCK_RUNNER, sf_dir, str(cpus)],
        input=sql.encode(),
        capture_output=True,
        timeout=1800,
    )
    if r.returncode != 0:
        raise RuntimeError(r.stderr.decode(errors="replace")[-200:])
    return float(json.loads(r.stdout.strip().splitlines()[-1])["sec"])


def main() -> int:
    only = None
    for a in list(sys.argv[1:]):
        if a.startswith("--queries="):
            only = list(dict.fromkeys(a.split("=", 1)[1].split(",")))
            sys.argv.remove(a)
    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
        os.path.join(REPO, ".localdata", "sf0.5"),
        os.path.join(REPO, ".localdata", "sf1.0"),
    ]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from hadoop_multiple_streaming_spark import workloads
    from hadoop_multiple_streaming_spark.session import get_spark

    # heavy-SF crossover runs are shuffle-BYTES bound (the sf8.0 pair
    # shuffle brushed the host's 80 GB disk quota): zstd halves the
    # on-disk footprint there, which is worth its ~18% compute tax on
    # floor-dominated work (DEPLOY.md codec A/B).
    conf = {"spark.io.compression.codec": "zstd"}

    workloads.load_all()
    spark = get_spark(
        app_name="hms-crossover",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")

    def rebuild_session(dead):
        """Replace a session whose JVM died mid-run (e.g. collateral of
        a kernel OOM kill): stop() best-effort, clear the cached
        singletons getOrCreate would otherwise hand straight back, and
        build a fresh one so the remaining scale points still measure."""
        try:
            dead.stop()
        except Exception:
            pass
        try:
            from pyspark import SparkContext
            from pyspark.sql import SparkSession

            SparkContext._active_spark_context = None
            SparkSession._instantiatedSession = None
            SparkSession._activeSession = None
        except Exception:
            pass
        fresh = get_spark(
            app_name="hms-crossover",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf=conf,
        )
        fresh.sparkContext.setLogLevel("ERROR")
        return fresh

    rows = []
    for sf_dir in sf_dirs:
        sf = _sf(sf_dir)
        scaled_q, scaled_sql = _scaled_embedding_lsh()
        sem_q, sem_sql = _scaled_semantic_dedup()
        menu = [
            *[(n, workloads.QUERIES[n], workloads.ORACLES[n]) for n in QUERIES],
            ("dedup_embedding_lsh_scaled", scaled_q, scaled_sql),
            ("semantic_dedup_scaled_k", sem_q, sem_sql),
        ]
        if only is not None:
            # run cheap queries before expensive ones within a scale
            # point (caller order), so one engine death late in the sf
            # costs the fewest rows
            by_name = {m[0]: m for m in menu}
            menu = [by_name[n] for n in only if n in by_name]
        for name, qfn, sql in menu:
            # engines are allowed to FAIL a scale point (e.g. DuckDB
            # OOM on the sf2.0 sign-LSH oracle) — record -1 and keep
            # going; a dead engine is the most honest ratio there is
            retried = False
            try:
                s = time_spark(spark, qfn, sf_dir)
            except Exception as e:
                print(f"[crossover] spark {name}@{sf}: {str(e)[:150]}",
                      file=sys.stderr)
                s = -1.0
                # rebuild+retry ONLY when the JVM is actually dead — a
                # deterministically failing query must stay a -1 DNF,
                # not run twice and paper over a flake. Probe with a
                # trivial query: alive session -> keep the DNF.
                session_dead = False
                try:
                    spark.sql("select 1").collect()
                except Exception:
                    session_dead = True
                if session_dead:
                    retried = True
                    try:
                        spark = rebuild_session(spark)
                        s = time_spark(spark, qfn, sf_dir)
                    except Exception as e2:
                        print(
                            f"[crossover] spark retry {name}@{sf}: "
                            f"{str(e2)[:150]}",
                            file=sys.stderr,
                        )
            # one PROCESS per DuckDB query: a fresh connection is not
            # enough — an OOM'd query poisons the process-global
            # allocator (seen twice: first the recovery CREATE VIEW
            # raising OOM and killing the run, then at sf4.0 every
            # post-OOM fresh connection failing 8-byte allocations
            # with 123 GB free). The child runs the identical
            # warm+min-of-2 estimator and prints one JSON line.
            d = -1.0
            try:
                d = time_duck_subprocess(sf_dir, sql, cpus)
            except Exception as e:
                print(f"[crossover] duckdb {name}@{sf}: {str(e)[:200]}",
                      file=sys.stderr)
            ratio = round(s / d, 2) if d > 0 and s > 0 else -1.0
            rec = {
                "sf": sf,
                "query": name,
                "spark_sec": s,
                "duckdb_sec": d,
                "ratio": ratio,
            }
            if retried:
                # visible DNF-then-pass marker: this timing came from a
                # second attempt after a dead-JVM rebuild
                rec["spark_retried"] = True
            rows.append(rec)
            print(json.dumps(rec), flush=True)

    print("\n| query | sf | spark (s) | duckdb (s) | ratio |")
    print("|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['query']} | {r['sf']} | {r['spark_sec']} "
            f"| {r['duckdb_sec']} | {r['ratio']}x |"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())

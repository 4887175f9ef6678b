"""Unit tests for the dedup operator family (operators.dedup)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_multiple_streaming_spark.operators.dedup import (
    embedding_cosine_pairs,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    quantize_embeddings,
    simhash_fingerprints,
    simhash_near_pairs,
    word_shingles,
)


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_min_id_representative(spark):
    df = spark.createDataFrame(
        [(5, "x"), (2, "x"), (9, "y")], "doc_id long, text string"
    )
    got = {r.text: (r.keep_id, r.dup_cnt) for r in exact_dedup(df, ["text"], "doc_id").collect()}
    assert got == {"x": (2, 2), "y": (9, 1)}


def test_word_shingles(spark):
    df = docs_df(spark, [(1, "a b c d"), (2, "a b")])
    got = {(r.id, r.shingle) for r in word_shingles(df, "text", "doc_id", n=3).collect()}
    # doc 1: two 3-gram shingles; doc 2 too short -> none
    assert got == {(1, "a b c"), (1, "b c d")}


def test_minhash_lsh_pairs_identical_docs(spark):
    df = docs_df(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely different words in this other document here now"),
        ],
    )
    sh = word_shingles(df, "text", "doc_id")
    sig = minhash_signatures(sh, num_hashes=8)
    # identical shingle sets -> identical signature arrays
    sigs = {r.id: r.sig for r in sig.collect()}
    assert sigs[1] == sigs[2] and len(sigs[1]) == 8
    assert all(len(h) == 16 for h in sigs[1])  # truncated md5s, no 'g' left
    pairs = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(sig, rows_per_band=2).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_exact_value(spark):
    # doc1 shingles {ab c, b c d}; doc2 shares exactly one of two
    df = docs_df(spark, [(1, "a b c d"), (2, "b c d e")])
    got = ngram_jaccard_pairs(word_shingles(df, "text", "doc_id"), threshold=0.0).collect()
    assert len(got) == 1
    r = got[0]
    # doc1 {a b c, b c d}, doc2 {b c d, c d e}: inter 1, union 3
    assert (r.id_a, r.id_b) == (1, 2)
    assert abs(r.jaccard - 1 / 3) < 1e-12


def test_ngram_jaccard_df_cap(spark):
    """max_doc_freq drops a hot shingle from the UNIVERSE: both the
    intersection count and the per-doc set sizes, so Jaccard over the
    kept shingles stays a true set ratio (Lee et al. 2022 semantics).
    Also: a cap larger than any df is a no-op, and cap < 2 rejects."""
    import pytest

    # 'h h h' appears in all 3 docs (df=3, the boilerplate shingle);
    # each doc otherwise has disjoint-ish shingles with doc2/doc3
    # sharing 'x y z'
    df = docs_df(
        spark,
        [
            (1, "h h h a b c"),
            (2, "h h h x y z"),
            (3, "h h h x y z q"),
        ],
    )
    sh = word_shingles(df, "text", "doc_id")
    # cap=2 drops 'h h h' (df=3) and 'h h x'? no — 'h h x' is per-doc
    # unique. Kept universe: doc1 {h h a, h a b, a b c}(3), doc2
    # {h h x, h x y, x y z}(3), doc3 {h h x, h x y, x y z, y z q}(4).
    # 'h h x'/'h x y' have df=2 <= cap. doc2^doc3 share 3 -> 3/4.
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(sh, threshold=0.0, max_doc_freq=2).collect()
    }
    assert (2, 3) in capped and abs(capped[(2, 3)] - 3 / 4) < 1e-12
    # doc1 shares nothing kept with doc2/doc3 -> no pair rows
    assert (1, 2) not in capped and (1, 3) not in capped
    # uncapped: 'h h h' (df=3) creates pairs among all three docs
    uncapped = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(sh, threshold=0.0).collect()
    }
    assert {(1, 2), (1, 3), (2, 3)} <= uncapped
    # a non-binding cap is output-identical to no cap
    loose = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(sh, threshold=0.0, max_doc_freq=100).collect()
    }
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(sh, threshold=0.0).collect()
    }
    assert loose == full
    with pytest.raises(ValueError):
        ngram_jaccard_pairs(sh, threshold=0.0, max_doc_freq=1)


def test_ngram_jaccard_df_cap_binding_oracle_replay(spark):
    """Engine-independence of the BINDING-cap semantics: the same
    HAVING df <= cap filter in DuckDB reproduces the operator's pairs
    bit-exactly on data where the cap actually drops shingles (the
    sf0.01-sf2.0 driver checks only exercise the non-binding case)."""
    import duckdb

    rows = [
        (1, "h h h a b c"),
        (2, "h h h x y z"),
        (3, "h h h x y z q"),
        (4, "p q r s t u"),
    ]
    df = docs_df(spark, rows)
    got = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in ngram_jaccard_pairs(
            word_shingles(df, "text", "doc_id"), threshold=0.0, max_doc_freq=2
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(
        (a, b, round(j, 12))
        for a, b, j in con.execute(
            """
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            sh AS (SELECT DISTINCT doc_id AS id, array_to_string(t[i:i+2], ' ') AS shingle
                   FROM toks, UNNEST(range(1, greatest(len(t) - 2, 0) + 1)) u(i)),
            kept AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 2),
            shc AS (SELECT sh.id, sh.shingle FROM sh JOIN kept USING (shingle)),
            sizes AS (SELECT id, COUNT(*) AS n FROM shc GROUP BY id),
            inter AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
                      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.id < b.id
                      GROUP BY 1, 2)
            SELECT id_a, id_b, CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jaccard
            FROM inter
            JOIN sizes na ON na.id = id_a
            JOIN sizes nb ON nb.id = id_b
            """
        ).fetchall()
    )
    assert got == want and len(got) >= 1


def test_simhash_identity_and_pairs(spark):
    df = docs_df(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "one two three four five six seven eight nine ten"),
        ],
    )
    fps = simhash_fingerprints(df, "text", "doc_id")
    got = {r.id: r.simhash for r in fps.collect()}
    assert got[1] == got[2] and len(got[1]) == 64 and set(got[1]) <= {"0", "1"}
    assert got[1] != got[3]
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_near_pairs(fps, max_hamming=0).collect()}
    assert pairs == {(1, 2): 0}


def test_dedup_clusters_connected_components(spark):
    from hadoop_multiple_streaming_spark.operators.dedup import dedup_clusters

    # two chains and a singleton pair: {1-2-3-4}, {10-11}, {20-21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    got = {r.id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_embedding_cosine_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [0.6, 0.8, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    q = quantize_embeddings(df, "embedding", "vec_id")
    got = {(r.id_a, r.id_b): r.cosine for r in embedding_cosine_pairs(q, 0.75).collect()}
    assert set(got) == {(1, 2), (3, 4)}
    assert abs(got[(1, 2)] - 1.0) < 1e-12
    assert abs(got[(3, 4)] - 0.8) < 1e-9  # cos((1,0),(0.6,0.8)) pairs via (3,4)=0.8


def test_embedding_cosine_pairs_guard(spark):
    import pytest

    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(5)], "vec_id long, embedding array<float>"
    )
    q = quantize_embeddings(df, "embedding", "vec_id")
    # construction is LAZY (no driver-side job) ...
    guarded = embedding_cosine_pairs(q, 0.5, max_rows=4)
    # ... but past max_rows the O(n^2) plan must be unexecutable
    with pytest.raises(Exception, match="O\\(n\\^2\\)"):
        guarded.count()
    # explicit opt-in still works
    assert embedding_cosine_pairs(q, 0.5, max_rows=None).count() == 10


def test_embedding_lsh_pairs_subset_of_exact(spark):
    import numpy as np

    from hadoop_multiple_streaming_spark.operators.dedup import embedding_lsh_pairs

    rng = np.random.default_rng(7)
    base = rng.normal(size=8)
    vecs = [
        (1, base + 0.01 * rng.normal(size=8)),
        (2, base + 0.01 * rng.normal(size=8)),
        (3, -base),  # antipodal: cosine ~ -1, must never pair
        (4, rng.normal(size=8)),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>",
    )
    q = quantize_embeddings(df, "embedding", "vec_id")
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_lsh_pairs(
            q, 0.9, num_planes=16, rows_per_band=2, dim=8
        ).collect()
    }
    assert (1, 2) in got and got[(1, 2)] > 0.99
    assert not any(3 in k for k in got)
    # LSH output = exact pairwise truth restricted to candidates: a
    # subset, with bit-identical cosine values on the shared pairs
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_cosine_pairs(q, 0.9).collect()
    }
    assert set(got) <= set(exact)
    assert all(v == exact[k] for k, v in got.items())


def test_lsh_max_bucket_size_drops_hot_buckets(spark):
    # 3 identical docs share every band bucket (bucket size 3);
    # max_bucket_size=2 drops those buckets -> no candidate pairs
    text = "the quick brown fox jumps over the lazy dog today"
    df = docs_df(spark, [(1, text), (2, text), (3, text)])
    sh = word_shingles(df, "text", "doc_id")
    sig = minhash_signatures(sh, num_hashes=8)
    capped = lsh_candidate_pairs(sig, rows_per_band=2, max_bucket_size=2)
    assert capped.count() == 0
    uncapped = lsh_candidate_pairs(sig, rows_per_band=2)
    assert uncapped.count() == 3  # all 3 pairs of the clique


def test_ngram_contamination_semi_join(spark):
    from hadoop_multiple_streaming_spark.operators.dedup import (
        ngram_contamination,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),      # shares 3-gram with probe
            (2, "completely unrelated text here"),  # clean
            (3, "quick brown fox ran away"),        # shares "quick brown fox"
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(100, "a quick brown fox appears")], "doc_id long, text string"
    )
    c_sh = word_shingles(docs, "text", "doc_id", n=3, distinct=False)
    p_sh = word_shingles(probes, "text", "doc_id", n=3, distinct=False)
    got = sorted(r.id for r in ngram_contamination(c_sh, p_sh).collect())
    assert got == [1, 3]


def test_dedup_clusters_long_chain_converges(spark):
    # a 40-node chain (diameter 39): plain one-hop propagation needs 39
    # iterations; pointer jumping must converge within the default
    # max_iter=10 (2^10 hops) to the exact min-label fixpoint
    from hadoop_multiple_streaming_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 139)], "id_a long, id_b long"
    )
    out = dedup_clusters(pairs)
    labels = {r.id: r.cluster_id for r in out.collect()}
    assert set(labels.values()) == {100}
    assert len(labels) == 40


def test_ngram_contamination_rate(spark):
    from hadoop_multiple_streaming_spark.operators.dedup import (
        ngram_contamination_rate,
    )

    corpus = spark.createDataFrame(
        [(1, "a b"), (1, "b c"), (2, "x y"), (2, "y z"), (2, "x y")],
        "id long, shingle string",
    )
    probe = spark.createDataFrame([("b c",), ("q r",)], "shingle string")
    got = {r.id: r for r in ngram_contamination_rate(corpus, probe).collect()}
    # doc 1: 2 distinct shingles, 1 contaminated -> 0.5
    assert (got[1].n_shingles, got[1].n_contaminated) == (2, 1)
    assert got[1].contamination_rate == 0.5
    # doc 2: duplicates collapse to 2 distinct, none contaminated
    assert (got[2].n_shingles, got[2].n_contaminated) == (2, 0)
    assert got[2].contamination_rate == 0.0


def test_incremental_dedup_drops_store_hits_and_batch_dups(spark):
    from hadoop_multiple_streaming_spark.operators.dedup import incremental_dedup

    store = spark.createDataFrame(
        [("h1",), ("h2",)], "content_hash string"
    )
    batch = spark.createDataFrame(
        [
            ("h1", 10),  # already in store -> dropped
            ("h3", 11),  # new
            ("h3", 12),  # within-batch dup of 11
            ("h4", 13),  # new
        ],
        "content_hash string, doc_id long",
    )
    got = {
        r.content_hash: (r.keep_id, r.dup_cnt)
        for r in incremental_dedup(batch, store, ["content_hash"], "doc_id").collect()
    }
    assert got == {"h3": (11, 2), "h4": (13, 1)}
    # append-the-result invariant: the union store stays one-per-key
    new_store = store.unionByName(
        spark.createDataFrame([("h3",), ("h4",)], "content_hash string")
    )
    empty = incremental_dedup(batch, new_store, ["content_hash"], "doc_id")
    assert empty.count() == 0


def test_minhash_store_hits_flags_near_dups_of_store(spark):
    from hadoop_multiple_streaming_spark.operators.dedup import (
        minhash_band_buckets,
        minhash_signatures,
        minhash_store_hits,
    )

    text = "the quick brown fox jumps over the lazy dog today"
    store_docs = docs_df(spark, [(0, text), (2, "completely different store doc here now ok")])
    batch_docs = docs_df(
        spark,
        [
            (1, text),  # near-dup (exact copy) of store doc 0
            (3, "novel words that match nothing in the store at all"),
        ],
    )
    mk = lambda d: minhash_signatures(  # noqa: E731
        word_shingles(d, "text", "doc_id"), num_hashes=8
    )
    store = minhash_band_buckets(mk(store_docs), rows_per_band=2)
    hits = {
        r.id: r.n_hit_bands
        for r in minhash_store_hits(mk(batch_docs), store, rows_per_band=2).collect()
    }
    # doc 1 collides on every band (identical text); doc 3 on none
    assert hits == {1: 4}


def _py_lsh_pairs(qv: dict, threshold: float, num_planes: int, rows_per_band: int):
    """Plain-Python sign-LSH replay over quantized vectors ``qv`` (id ->
    int list): sign bits against rademacher_planes, band buckets,
    in-bucket pairs (id_a < id_b), and the quantized cosine — the
    exact int dot, then one double sqrt/multiply/divide."""
    import math

    from hadoop_multiple_streaming_spark.operators.dedup import rademacher_planes

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    planes = rademacher_planes(num_planes, len(next(iter(qv.values()))))
    sig = {i: "".join("1" if dot(v, p) > 0 else "0" for p in planes) for i, v in qv.items()}
    buckets = {}
    for i, s in sig.items():
        for b in range(num_planes // rows_per_band):
            key = (b, s[b * rows_per_band : (b + 1) * rows_per_band])
            buckets.setdefault(key, []).append(i)
    out = set()
    for ids in buckets.values():
        for a in ids:
            for b in ids:
                if a < b:
                    cos = float(dot(qv[a], qv[b])) / (
                        math.sqrt(float(dot(qv[a], qv[a]))) * math.sqrt(float(dot(qv[b], qv[b])))
                    )
                    if cos >= threshold:
                        out.add((a, b, cos))
    return sorted(out)


def _lsh_rows():
    """30 random 16-dim vectors, every fifth one near a shared base."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = []
    base = rng.normal(size=16)
    for i in range(30):
        v = base + 0.02 * rng.normal(size=16) if i % 5 == 0 else rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    return rows


def test_embedding_lsh_sig_impls_identical(spark):
    """The Arrow signature + fused bucket-verify path produces exactly
    the pairs (and bit-identical cosines) of a plain-Python sign-LSH
    replay over the same quantized vectors."""
    from hadoop_multiple_streaming_spark.operators.dedup import embedding_lsh_pairs

    df = spark.createDataFrame(_lsh_rows(), "vec_id long, embedding array<float>")
    q = quantize_embeddings(df, "embedding", "vec_id")
    got = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_lsh_pairs(
            q, threshold=0.5, num_planes=16, rows_per_band=4, dim=16
        ).collect()
    )
    qv = {r.id: list(r.qv) for r in q.collect()}
    assert got == _py_lsh_pairs(qv, 0.5, 16, 4) and got


def test_embedding_lsh_pairs_string_ids(spark):
    """String ids take the same path as integer ids: zero-padded
    string ids (whose order is the integer order) give the integer-id
    run's pairs and cosines, mapped through the padding."""
    from hadoop_multiple_streaming_spark.operators.dedup import embedding_lsh_pairs

    rows = _lsh_rows()
    kw = dict(threshold=0.5, num_planes=16, rows_per_band=4, dim=16)
    ints = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    strs = spark.createDataFrame(
        [(f"{i:05d}", v) for i, v in rows], "vec_id string, embedding array<float>"
    )
    want = sorted(
        (f"{r.id_a:05d}", f"{r.id_b:05d}", r.cosine)
        for r in embedding_lsh_pairs(
            quantize_embeddings(ints, "embedding", "vec_id"), **kw
        ).collect()
    )
    out = embedding_lsh_pairs(quantize_embeddings(strs, "embedding", "vec_id"), **kw)
    assert out.schema["id_a"].dataType.simpleString() == "string"
    assert sorted((r.id_a, r.id_b, r.cosine) for r in out.collect()) == want and want


def test_auto_band_params_bits_grow_with_corpus():
    """The sizing law must raise bits-per-band monotonically with the
    corpus count (the quadratic-death guard), keep num_planes =
    bands * bits, and clamp to the documented [4, 24] range."""
    from hadoop_multiple_streaming_spark.operators.dedup import auto_band_params

    prev_bits = 0
    for n in (10, 1_000, 20_000, 1_000_000, 10**9):
        planes, bits, recall = auto_band_params(n, 0.9)
        assert bits >= prev_bits
        assert planes == 8 * bits
        assert 4 <= bits <= 24
        assert 0.0 <= recall <= 1.0
        prev_bits = bits
    # the measured-quadratic-death config (4 bits at 20k vectors) is
    # unreachable: 20k already sizes well past 4 bits
    assert auto_band_params(20_000, 0.8)[1] >= 14
    # integer-exact law: bits = ceil_log2(bands * n / cands_per_vector)
    assert auto_band_params(1024, 0.9)[1] == 10  # 8*1024/8 = 1024 -> 10
    assert auto_band_params(1025, 0.9)[1] == 11
    # tiny corpora clamp at the floor
    assert auto_band_params(2, 0.9)[1] == 4


def test_embedding_lsh_auto_mode(spark):
    """num_planes/rows_per_band omitted -> auto sizing (one count()
    agg); giving only one of the two raises."""
    import numpy as np
    import pytest

    from hadoop_multiple_streaming_spark.operators.dedup import (
        auto_band_params,
        embedding_lsh_pairs,
    )

    rng = np.random.default_rng(7)
    rows = []
    base = rng.normal(size=16)
    for i in range(40):
        v = base + 0.02 * rng.normal(size=16) if i % 8 == 0 else rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = quantize_embeddings(df, "embedding", "vec_id")
    auto = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_lsh_pairs(q, threshold=0.5, dim=16).collect()
    )
    planes, bits, _ = auto_band_params(40, 0.5)
    manual = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_lsh_pairs(
            q, threshold=0.5, num_planes=planes, rows_per_band=bits, dim=16
        ).collect()
    )
    assert auto == manual
    with pytest.raises(ValueError, match="BOTH"):
        embedding_lsh_pairs(q, threshold=0.5, num_planes=32, dim=16)


def test_semantic_dedup_impls_and_min_id_rule(spark):
    """The fused keep kernel matches a NumPy keep replay over the same
    clustering: keep=false exactly for members with a smaller-id
    same-cluster near-duplicate; cross-cluster near-dups are NOT
    pruned; max_cluster_size skips oversized clusters."""
    import numpy as np

    from hadoop_multiple_streaming_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(11)
    v1 = rng.normal(size=16)
    v2 = rng.normal(size=16)
    rows = [
        (1, list(v1)),           # cluster A representative
        (2, list(v1 * 1.001)),   # near-dup of 1, same cluster -> dropped
        (3, list(v2)),           # cluster B representative
        (4, list(v1 * 0.999)),   # near-dup of 1 but assigned cluster B
        (5, list(rng.normal(size=16))),  # unrelated, cluster A
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    q = quantize_embeddings(df, "embedding", "vec_id")
    assign = {1: 0, 2: 0, 3: 1, 4: 1, 5: 0}
    clusters = spark.createDataFrame(list(assign.items()), "id long, cluster int")
    qv = {r.id: np.asarray(r.qv, dtype=np.int64) for r in q.collect()}

    def cos(a, b):
        return float(qv[a] @ qv[b]) / (
            np.sqrt(float(qv[a] @ qv[a])) * np.sqrt(float(qv[b] @ qv[b]))
        )

    replay = {
        i: (c, not any(assign[j] == c and cos(j, i) >= 0.99 for j in assign if j < i))
        for i, c in assign.items()
    }
    want = {1: (0, True), 2: (0, False), 3: (1, True), 4: (1, True), 5: (0, True)}
    assert replay == want
    got = {
        r.id: (r.cluster, r.keep)
        for r in semantic_dedup(q, clusters, threshold=0.99).collect()
    }
    assert got == want
    # skew guard: cluster 0 (3 members) skipped -> everything kept
    capped = {
        r.id: r.keep
        for r in semantic_dedup(
            q, clusters, threshold=0.99, max_cluster_size=2
        ).collect()
    }
    assert capped == {1: True, 2: True, 3: True, 4: True, 5: True}


def test_semantic_dedup_string_ids_local_and_distributed(spark, monkeypatch):
    """Zero-padded string ids take the driver-local seed and Lloyd
    replay, and it returns the same (id, cluster, keep) rows as the
    distributed seeds and rounds (local k-means cap patched to 0)."""
    import numpy as np

    from hadoop_multiple_streaming_spark.operators import similarity as S
    from hadoop_multiple_streaming_spark.operators.dedup import _local_id, semantic_dedup

    rng = np.random.default_rng(7)
    rows = [(f"{i:04d}", [float(x) for x in rng.normal(size=16)]) for i in range(60)]
    rows.append(("0060", [x * 1.0001 for x in rows[13][1]]))  # near-dup of 0013
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    q = quantize_embeddings(df, "embedding", "vec_id")
    assert _local_id(q)

    def run():
        return sorted(
            (r.id, r.cluster, r.keep)
            for r in semantic_dedup(q, threshold=0.99, target_cluster_size=8, dim=16).collect()
        )

    local = run()
    monkeypatch.setattr(S, "_LOCAL_KMEANS_CAP", 0)
    assert run() == local
    got = {i: (c, k) for i, c, k in local}
    assert len(got) == 61
    assert got["0060"][1] is False and got["0013"][1] is True
    assert len({c for c, _ in got.values()}) > 1


def test_auto_cluster_count_law():
    """k = clamp(ceil(n / target), 2, 65536) — integer-exact, so the
    SQL replay GREATEST(2, LEAST(65536, (n + t - 1) // t)) derives the
    SAME k from count(*); pairing work n * target stays linear in n."""
    from hadoop_multiple_streaming_spark.operators.dedup import auto_cluster_count

    # the actual corpus sizes the crossover curve runs at
    assert auto_cluster_count(500) == 3
    assert auto_cluster_count(2_000) == 10
    assert auto_cluster_count(20_000) == 100
    assert auto_cluster_count(40_000) == 200
    # exact ceil-div boundaries
    assert auto_cluster_count(200) == 2  # min clamp wins over ceil=1
    assert auto_cluster_count(201) == 2
    assert auto_cluster_count(401) == 3
    # clamps
    assert auto_cluster_count(1) == 2
    assert auto_cluster_count(10**12) == 1 << 16
    # custom target
    assert auto_cluster_count(1000, target_cluster_size=100) == 10
    # monotone non-decreasing in n
    ks = [auto_cluster_count(n) for n in range(1, 5000, 37)]
    assert all(a <= b for a, b in zip(ks, ks[1:]))


def test_semantic_dedup_auto_default_recovers_planted_twin(spark):
    """The no-clusters default path: auto_cluster_count sizes k,
    hash-ordered seeds + 2 Lloyd rounds cluster the space, and a
    planted near-twin is still dropped (twins are ~coincident, so
    k-means cannot separate them) while every id appears exactly once
    in the output."""
    import numpy as np

    from hadoop_multiple_streaming_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(60)]
    twin = [x * 1.0001 for x in rows[13][1]]
    rows.append((60, twin))  # near-dup of id 13
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = quantize_embeddings(df, "embedding", "vec_id")
    out = semantic_dedup(
        q, threshold=0.99, target_cluster_size=8, dim=16
    ).collect()
    got = {r.id: (r.cluster, r.keep) for r in out}
    assert len(got) == 61  # every input id, exactly once
    assert got[60][1] is False  # twin dropped...
    assert got[13][1] is True  # ...its min-id representative kept
    assert got[60][0] == got[13][0]  # same cluster (coincident vectors)
    # k came from the law: 61 vectors / target 8 -> ceil = 8 clusters
    assert len({c for c, _ in got.values()}) <= 8
    # n= opt-out skips the eager count and produces identical output
    out2 = semantic_dedup(
        q, threshold=0.99, target_cluster_size=8,
        dim=16, n=61,
    ).collect()
    assert {r.id: (r.cluster, r.keep) for r in out2} == got


def test_substring_matches_positions_and_anchors(spark):
    """Every contiguous occurrence is found at its 1-based token
    position (both anchor modes), probes shorter than k are skipped,
    partial overlaps don't match, and leftward out-of-range
    extensions are rejected."""
    from hadoop_multiple_streaming_spark.operators.dedup import substring_matches

    corpus = spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (2, "x x c d e x c d e f x"),   # "c d e" twice; "c d e f" once
            (3, "q r s"),
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [
            (100, "c d e"),       # 3 tokens: matches doc1@3, doc2@3, doc2@7
            (101, "c d e f"),     # matches doc1@3, doc2@7
            (102, "z z z"),       # no match
            (103, "ab"),          # 1 token < k -> skipped
        ],
        "doc_id long, text string",
    )
    want = {
        (1, 100, 3), (2, 100, 3), (2, 100, 7),
        (1, 101, 3), (2, 101, 7),
    }
    for mode in ("rarest", "first"):
        got = {
            (r.corpus_id, r.probe_id, r.match_pos)
            for r in substring_matches(corpus, probes, k=2, anchor=mode).collect()
        }
        assert got == want, mode
    # k larger than every probe -> empty, not an error
    assert substring_matches(corpus, probes, k=9).count() == 0
    import pytest

    with pytest.raises(ValueError, match="anchor"):
        substring_matches(corpus, probes, k=2, anchor="wat")
    # probe-size contract: the hard broadcast is guarded — past
    # max_probe_rows the plan raises at execution time...
    with pytest.raises(Exception, match="broadcast_probes=False"):
        substring_matches(corpus, probes, k=2, max_probe_rows=1).collect()
    # ...and broadcast_probes=False (unhinted, AQE decides) runs the
    # same answer with no probe-count ceiling
    got = {
        (r.corpus_id, r.probe_id, r.match_pos)
        for r in substring_matches(
            corpus, probes, k=2, broadcast_probes=False, max_probe_rows=1
        ).collect()
    }
    assert got == want


def test_duplicate_spans_cross_doc_and_counts(spark):
    """Cross-document repeats surface with exact doc/occurrence
    counts; a within-doc-only repeat is excluded by min_docs=2 but its
    occurrences count when another doc shares the span."""
    from hadoop_multiple_streaming_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c x y"),
            (2, "q a b c r"),        # shares "a b c" with 1
            (3, "z z z z"),          # internal repeat only ("z z" x3)
            (4, "a b c a b c"),      # shares "a b c" with 1,2 - twice
        ],
        "doc_id long, text string",
    )
    got = {
        r.span: (r.n_docs, r.n_occurrences, r.min_doc_id)
        for r in duplicate_spans(docs, span_tokens=3, min_docs=2).collect()
    }
    # "a b c": docs 1,2,4 - doc 4 contributes 2 occurrences
    assert got["a b c"] == (3, 4, 1)
    # "z z z" repeats only inside doc 3 -> filtered by min_docs=2
    assert "z z z" not in got
    # min_docs=1 exposes the within-doc repeat with its counts
    solo = {
        r.span: (r.n_docs, r.n_occurrences)
        for r in duplicate_spans(docs, span_tokens=3, min_docs=1).collect()
    }
    assert solo["z z z"] == (1, 2)
    import pytest

    with pytest.raises(ValueError, match="span_tokens"):
        duplicate_spans(docs, span_tokens=0)


def test_remove_spans_cut_and_passthrough(spark):
    """Covered tokens are excised (1-based positions, overlap-safe),
    unmatched docs pass through untouched, and counts reconcile."""
    from hadoop_multiple_streaming_spark.operators.dedup import remove_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "u v w"), (3, "x y z")],
        "doc_id long, text string",
    )
    matches = spark.createDataFrame(
        [
            (1, 2, 2),  # cut tokens 2-3 ("b c")
            (1, 3, 2),  # overlaps: tokens 3-4 ("c d") -> union 2-4
            (3, 1, 3),  # cut the whole doc
        ],
        "corpus_id long, match_pos long, span_tokens long",
    )
    got = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_removed)
        for r in remove_spans(docs, matches).collect()
    }
    assert got[1] == ("a e f", 3, 3)
    assert got[2] == ("u v w", 3, 0)
    assert got[3] == ("", 0, 3)


def test_semantic_dedup_auto_tiny_inputs(spark):
    """Degenerate corpora: n smaller than min_k seeds (1-3 vectors)
    must not crash the auto path — the seed LIMIT just returns fewer
    than k rows and Lloyd proceeds with what exists; duplicate seed
    vectors collapse onto the lower cluster id deterministically."""
    from hadoop_multiple_streaming_spark.operators.dedup import semantic_dedup

    for rows in (
        [(1, [1.0] * 16)],
        [(1, [1.0] * 16), (2, [1.0] * 16)],           # identical pair
        [(1, [1.0] * 16), (2, [-1.0] * 16), (3, [1.0] * 16)],
    ):
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = quantize_embeddings(df, "embedding", "vec_id")
        out = {r.id: r.keep for r in semantic_dedup(
            q, threshold=0.99, dim=16
        ).collect()}
        assert len(out) == len(rows)
        assert out[1] is True  # min-id representative always kept
    # the identical pair: the larger id is the one dropped
    df = spark.createDataFrame(
        [(1, [1.0] * 16), (2, [1.0] * 16)], "vec_id long, embedding array<float>"
    )
    q = quantize_embeddings(df, "embedding", "vec_id")
    out = {r.id: r.keep for r in semantic_dedup(
        q, threshold=0.99, dim=16
    ).collect()}
    assert out == {1: True, 2: False}


def test_auto_cluster_count_uncapped():
    """max_k=None removes the clamp — the hierarchical path's k law
    (its per-cell work contract needs the true k ~ n/target; the 65536
    cap only protects FLAT's driver codebook and n*k assignment)."""
    from hadoop_multiple_streaming_spark.operators.dedup import auto_cluster_count

    assert auto_cluster_count(10**12, max_k=None) == 5 * 10**9
    assert auto_cluster_count(10**10, max_k=None) == 5 * 10**7
    # below the cap the two laws agree exactly
    for n in (1, 200, 201, 5000, 13_107_200):
        assert auto_cluster_count(n, max_k=None) == auto_cluster_count(n)
    # min clamp still applies
    assert auto_cluster_count(1, max_k=None) == 2


def test_coarse_cluster_count_law():
    """k1 = 2^ceil(ceil_log2(k)/2): a power of two >= sqrt(k), and
    splitting k into (k1, k/k1) keeps both levels' assignment work
    ~n*sqrt(k)."""
    from hadoop_multiple_streaming_spark.operators.dedup import coarse_cluster_count

    for k in (2, 3, 4, 5, 16, 17, 20, 256, 65536, 5 * 10**7):
        k1 = coarse_cluster_count(k)
        assert k1 * k1 >= k, k  # k1 >= sqrt(k)
        assert k1 & (k1 - 1) == 0  # power of two
        assert k1 <= 2 * (int(k**0.5) + 1), k  # and not much above it
    assert coarse_cluster_count(1) == coarse_cluster_count(2)  # floor at k=2
    # the 10^10-doc design point: k = 5*10^7 -> k1 = 8192 (driver-small)
    assert coarse_cluster_count(5 * 10**7) == 8192


def _hier_fixture(spark, n=120, seed=3, target=10):
    """n random 16-dim vectors + one planted near-twin of id 13."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(n)]
    twin = [x * 1.0001 for x in rows[13][1]]
    rows.append((n, twin))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return quantize_embeddings(df, "embedding", "vec_id"), n


def test_semantic_dedup_hier_planted_twin_and_composite_ids(spark):
    """flat_assign_budget=0 (two-level clustering): every id exactly once, the
    planted near-twin is dropped with its min-id representative kept
    in the SAME composite cluster, composite ids decode to
    coarse < k1 and fine < 2^32 with no (coarse, fine) collisions,
    and keep replays EXACTLY from the returned clustering (keep=false
    iff a smaller-id same-cluster member has cosine >= threshold —
    recomputed independently in numpy from the quantized vectors)."""
    import numpy as np

    from hadoop_multiple_streaming_spark.operators.dedup import (
        coarse_cluster_count,
        semantic_dedup,
    )

    q, n = _hier_fixture(spark)
    out = semantic_dedup(
        q, threshold=0.99, target_cluster_size=10, dim=16,
        flat_assign_budget=0,
    ).collect()
    got = {r.id: (r.cluster, r.keep) for r in out}
    assert len(got) == n + 1  # every id, exactly once
    assert got[n][1] is False and got[13][1] is True
    assert got[n][0] == got[13][0]
    k1 = coarse_cluster_count(-(-(n + 1) // 10))  # k = ceil(121/10) = 13
    for cid, _ in got.values():
        coarse, fine = cid >> 32, cid & 0xFFFFFFFF
        assert 0 <= coarse < k1
        assert (coarse << 32) + fine == cid  # decode round-trips
    # independent keep replay from the clustering the operator chose
    qv = {
        r.id: np.asarray(r.qv, dtype=np.int64)
        for r in q.select("id", "qv").collect()
    }
    for i, (ci, _) in got.items():
        expect_drop = any(
            cj == ci
            and float(qv[j] @ qv[i])
            / (np.sqrt(float(qv[j] @ qv[j])) * np.sqrt(float(qv[i] @ qv[i])))
            >= 0.99
            for j, (cj, _) in got.items()
            if j < i
        )
        assert got[i][1] is (not expect_drop), i


def test_semantic_dedup_auto_budget_routing(spark):
    """semantic_dedup routes by n*k vs flat_assign_budget: under the
    budget it reproduces the flat auto_semantic_clusters clustering
    bit-for-bit, past it the hierarchical one."""
    from hadoop_multiple_streaming_spark.operators.dedup import (
        auto_cluster_count,
        auto_semantic_clusters,
        hierarchical_semantic_clusters,
        semantic_dedup,
    )

    q, n = _hier_fixture(spark)
    kw = dict(threshold=0.99, target_cluster_size=10, dim=16)

    def run(**extra):
        return sorted(
            (r.id, r.cluster, r.keep)
            for r in semantic_dedup(q, **kw, **extra).collect()
        )

    def clusters(frame):
        return sorted((r.id, r.cluster) for r in frame.collect())

    k = auto_cluster_count(n + 1, 10)
    flat = run(flat_assign_budget=1 << 60)
    hier = run(flat_assign_budget=1)
    assert flat != hier  # the two clusterings genuinely differ here
    assert run() == flat  # 121 x 13 cells is far under the default budget
    assert [(i, c) for i, c, _ in flat] == clusters(
        auto_semantic_clusters(q, k, dim=16)
    )
    assert [(i, c) for i, c, _ in hier] == clusters(
        hierarchical_semantic_clusters(
            q, auto_cluster_count(n + 1, 10, max_k=None), target_cluster_size=10, dim=16
        )
    )
    assert run(flat_assign_budget=(n + 1) * k) == flat  # the bound is inclusive
    assert run(flat_assign_budget=(n + 1) * k - 1) == hier


def test_fine_lloyd_cells_matches_python_lloyd():
    """One coarse cell with more than 128 fine seeds, so the argmin
    runs over several centroid blocks, and planted exact ties: every
    vector appears twice, so equal seeds sit on both sides of a block
    boundary and the rows on them must go to the smaller fine id.
    _fine_lloyd_cells equals a plain-Python Lloyd over the same
    hash-ordered seeds (float fold left to right over dims, means as
    exact int sum / n)."""
    import hashlib

    import numpy as np
    import pandas as pd

    from hadoop_multiple_streaming_spark.operators.dedup import _fine_lloyd_cells

    rng = np.random.default_rng(11)
    base = [[int(x) for x in rng.integers(-20, 20, 4)] for _ in range(160)]
    ids = list(range(1000, 1320))
    by_id = dict(zip(ids, base + base))  # ids 1000+i and 1160+i share a vector
    coarse, target, iters = 5, 2, 3
    k2 = -(-len(ids) // target)
    seeds = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:k2]
    assert k2 > 128
    assert any(
        by_id[seeds[a]] == by_id[seeds[b]] for a in range(128) for b in range(128, k2)
    )

    cents = {f: [float(x) for x in by_id[i]] for f, i in enumerate(seeds)}

    def nearest(v):
        best = None
        for f in sorted(cents):
            acc = 0.0
            for x, m in zip(v, cents[f]):
                acc += (float(x) - m) * (float(x) - m)
            if best is None or acc < best[0]:
                best = (acc, f)
        return best[1]

    for it in range(iters):
        assign = {i: nearest(by_id[i]) for i in ids}
        if it == iters - 1:
            break
        members = {}
        for i, f in assign.items():
            members.setdefault(f, []).append(by_id[i])
        cents = {f: [sum(c) / len(vs) for c in zip(*vs)] for f, vs in members.items()}

    pdf = pd.DataFrame(
        {"coarse": coarse, "id": ids, "qv": [by_id[i] for i in ids], "tag": ids}
    )
    got = _fine_lloyd_cells(target, iters, carry=["tag"])(pdf)
    assert dict(zip(got["id"], got["cluster"])) == {
        i: (coarse << 32) + f for i, f in assign.items()
    }
    assert got["tag"].tolist() == ids


def test_semantic_dedup_hier_skewed_cell(spark):
    """Pathological skew: ~all rows collapse into ONE coarse cell (a
    tight blob + a few far outliers). _fine_lloyd_cells must stay
    correct inside the giant cell — full id coverage, collision-free
    composite ids, and the keep rule replaying exactly from the
    clustering (including min-id dedup of coincident blob members that
    share a fine cluster)."""
    import numpy as np

    from hadoop_multiple_streaming_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(17)
    center = rng.normal(size=16)
    rows = [
        (i, [float(x) for x in center + rng.normal(size=16) * 1e-4])
        for i in range(90)
    ]  # tight blob: pairwise cosine ~1
    rows += [
        (90 + j, [float(x) for x in rng.normal(size=16) * 5])
        for j in range(6)
    ]  # outliers
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = quantize_embeddings(df, "embedding", "vec_id")
    out = semantic_dedup(
        q, threshold=0.99, target_cluster_size=10, dim=16,
        flat_assign_budget=0,
    ).collect()
    got = {r.id: (r.cluster, r.keep) for r in out}
    assert len(got) == 96
    # the blob really did land in one coarse cell (the skew scenario)
    blob_coarse = {got[i][0] >> 32 for i in range(90)}
    assert len(blob_coarse) == 1
    # composite ids collision-free across the whole output
    assert len({c for c, _ in got.values()}) == len(
        {(c >> 32, c & 0xFFFFFFFF) for c, _ in got.values()}
    )
    # keep replays exactly from the clustering (numpy, exact ints)
    qv = {
        r.id: np.asarray(r.qv, dtype=np.int64)
        for r in q.select("id", "qv").collect()
    }
    dropped = 0
    for i, (ci, keep) in got.items():
        expect_drop = any(
            cj == ci
            and float(qv[j] @ qv[i])
            / (np.sqrt(float(qv[j] @ qv[j])) * np.sqrt(float(qv[i] @ qv[i])))
            >= 0.99
            for j, (cj, _) in got.items()
            if j < i
        )
        assert keep is (not expect_drop), i
        dropped += keep is False
    # the blob is coincident: each fine cluster keeps exactly one
    n_fine = len({got[i][0] for i in range(90)})
    assert dropped == 90 - n_fine


def test_semantic_dedup_hier_matches_duckdb_oracle(spark):
    """End-to-end bit-identity pin of the registered catalog query vs
    its DuckDB oracle at sf0.001 — the same comparison the driver
    harness runs at sf0.01 (sorted rows, exact values). This is the
    test that would have caught any drift in the hierarchical SQL
    replay (seeds, fold order, tie-breaks, composite ids, keep)."""
    import duckdb

    import hadoop_multiple_streaming_spark.workloads as w

    w.load_all()
    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r.id, r.cluster, r.keep)
        for r in w.QUERIES["semantic_dedup_hier"](spark, sf).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    want = sorted(
        (int(i), int(c), bool(k))
        for i, c, k in con.execute(w.ORACLES["semantic_dedup_hier"]).fetchall()
    )
    assert got == want


def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    from hadoop_multiple_streaming_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
        word_shingles,
    )

    short = "alpha beta gamma delta epsilon"
    host = short + " " + " ".join(f"w{i} x{i} y{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, short), (2, host)], "doc_id long, text string"
    )
    sh = word_shingles(df, "text", "doc_id", n=3, distinct=False)
    cont = ngram_containment_pairs(sh, threshold=0.9).collect()
    jac = ngram_jaccard_pairs(sh, threshold=0.9).collect()
    # every shingle of the short doc appears in the host -> containment 1.0
    assert [(r["id_a"], r["id_b"], r["containment"]) for r in cont] == [
        (1, 2, 1.0)
    ]
    # ...but Jaccard is |A|/|B| (tiny) and misses the pair entirely
    assert jac == []


def test_ngram_pairs_expand_partitions_pins_width_same_answer(spark):
    from hadoop_multiple_streaming_spark.operators.dedup import (
        ngram_jaccard_pairs,
        word_shingles,
    )

    df = spark.createDataFrame(
        [(i, f"tok{i % 4} alpha beta gamma tok{i % 4}") for i in range(12)],
        "doc_id long, text string",
    )
    sh = word_shingles(df, "text", "doc_id", n=3, distinct=False)
    base = ngram_jaccard_pairs(sh, threshold=0.5)
    wide = ngram_jaccard_pairs(sh, threshold=0.5, expand_partitions=64)
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, wide.collect()))
    # the user repartition is in the plan and AQE must not coalesce it:
    # executed plan keeps 64 partitions on the expansion exchange
    wide.collect()
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan, plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="expand_partitions"):
        ngram_jaccard_pairs(sh, threshold=0.5, expand_partitions=0)


def test_embedding_lsh_store_hits_screens_planted_twin(spark):
    from hadoop_multiple_streaming_spark.operators.dedup import (
        embedding_lsh_buckets,
        embedding_lsh_store_hits,
        quantize_embeddings,
    )

    # store: two orthogonal-ish vectors; batch: a copy of store[0]
    # (must hit every band) and a fresh orthogonal vector
    dim = 64
    v0 = [1.0 if i % 2 == 0 else -1.0 for i in range(dim)]
    v1 = [1.0 if i % 3 == 0 else -1.0 for i in range(dim)]
    v2 = [1.0 if i % 5 == 0 else -1.0 for i in range(dim)]
    emb = spark.createDataFrame(
        [(0, v0), (2, v1), (1, v0), (3, v2)],
        "vec_id long, embedding array<float>",
    )
    q = quantize_embeddings(emb, "embedding", "vec_id")
    store = embedding_lsh_buckets(
        q.where("id % 2 = 0"), num_planes=64, rows_per_band=16
    )
    hits = {
        r["id"]: r["n_hit_bands"]
        for r in embedding_lsh_store_hits(
            q.where("id % 2 = 1"), store, num_planes=64, rows_per_band=16
        ).collect()
    }
    assert hits.get(1) == 4  # exact copy collides in all 4 bands
    assert 3 not in hits or hits[3] < 4


def test_embedding_lsh_buckets_validates_geometry(spark):
    from hadoop_multiple_streaming_spark.operators.dedup import (
        embedding_lsh_buckets,
    )

    import pytest as _pytest

    df = spark.createDataFrame([(1, [1000000] * 64)], "id long, qv array<bigint>")
    with _pytest.raises(ValueError, match="must divide"):
        embedding_lsh_buckets(df, num_planes=64, rows_per_band=7)


def test_segment_dedup_paragraph_mode(spark):
    """r15: the MassiveText repeated-passage contract in paragraph
    mode — first occurrence (smallest (doc_id, pos)) of each distinct
    paragraph survives, later copies are cut, documents reassemble in
    original order, fully-duplicate documents come back empty, and
    empty segments from consecutive separators are dropped."""
    from hadoop_multiple_streaming_spark.operators.dedup import segment_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha\n\nbeta"),
            (2, "beta\n\ngamma\n\nalpha"),   # beta+alpha cut, gamma kept
            (3, "alpha\n\nbeta"),             # fully duplicate -> ""
            (4, "\n\n\n\ndelta\n\n"),        # empty segments dropped
            (5, ""),                          # empty doc stays empty
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.text
        for r in segment_dedup(docs, "text", "doc_id", sep="\n\n").collect()
    }
    assert got == {
        1: "alpha\n\nbeta",
        2: "gamma",
        3: "",
        4: "delta",
        5: "",
    }


def test_segment_dedup_line_mode_and_word_windows(spark):
    """r15: CCNet line mode (sep='\\n') and the fixed word-window
    segmenter agree with hand computation; ragged final window kept."""
    from hadoop_multiple_streaming_spark.operators.dedup import segment_dedup

    docs = spark.createDataFrame(
        [(1, "x\ny"), (2, "y\nz")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.text
        for r in segment_dedup(docs, "text", "doc_id", sep="\n").collect()
    }
    assert got == {1: "x\ny", 2: "z"}

    # word windows of 2: doc 1 -> ["a b", "c"], doc 2 -> ["a b", "d"]
    docs2 = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id long, text string"
    )
    got2 = {
        r.doc_id: r.text
        for r in segment_dedup(
            docs2, "text", "doc_id", sep=None, words_per_segment=2
        ).collect()
    }
    assert got2 == {1: "a b c", 2: "d"}

    import pytest

    with pytest.raises(ValueError, match="exactly one"):
        segment_dedup(docs2, "text", "doc_id", sep="\n", words_per_segment=2)
    with pytest.raises(ValueError, match="exactly one"):
        segment_dedup(docs2, "text", "doc_id", sep=None)


def test_incremental_segment_dedup_union_corpus_equivalence(spark):
    """r15: the batch-over-batch invariant — running
    incremental_segment_dedup against the seen-segment store is
    EQUIVALENT to running segment_dedup over history + batch with
    history winning every tie, and the returned new-segment delta
    keeps the store exactly 'every segment ever seen'."""
    from hadoop_multiple_streaming_spark.operators.dedup import (
        _segment_explode,
        incremental_segment_dedup,
        segment_dedup,
    )
    from pyspark.sql import functions as F

    history = spark.createDataFrame(
        [(0, "alpha\n\nbeta"), (2, "gamma")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (11, "beta\n\ndelta"),       # beta seen -> cut; delta new
            (13, "delta\n\nepsilon"),    # delta taken by 11 -> cut
            (15, "alpha\n\ngamma"),      # fully seen -> ""
        ],
        "doc_id long, text string",
    )
    seen = (
        _segment_explode(history, "text", "doc_id", "\n\n", None, None)[0]
        .select(F.col("_seg").alias("segment"))
        .distinct()
    )
    deduped, new_segs = incremental_segment_dedup(
        batch, seen, "text", "doc_id", sep="\n\n"
    )
    got = {r.doc_id: r.text for r in deduped.collect()}
    assert got == {11: "delta", 13: "epsilon", 15: ""}
    assert {r.segment for r in new_segs.collect()} == {"delta", "epsilon"}

    # union-corpus equivalence: history ids sort below batch ids, so
    # plain segment_dedup over the union restricted to batch docs must
    # match the incremental result exactly
    union_out = segment_dedup(
        history.unionByName(batch), "text", "doc_id", sep="\n\n"
    ).where(F.col("doc_id") >= 10)
    assert {r.doc_id: r.text for r in union_out.collect()} == got


def test_fused_minhash_matches_expression_path(spark):
    """r16 (VERDICT task 4): the fused shingle+minhash Arrow kernel
    must be bit-identical to word_shingles(distinct=False) ->
    minhash_signatures on every edge the expression chain defines:
    consecutive spaces (empty tokens kept), exactly-n tokens, < n
    tokens / NULL text (no row), duplicate shingles (min-invariant),
    unicode (UTF-8 md5)."""
    from hadoop_multiple_streaming_spark.operators.dedup import (
        fused_minhash_signatures,
        minhash_signatures,
        word_shingles,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a  b c d"),               # consecutive spaces -> empty token
        (3, "x y z"),                  # exactly 3 tokens -> 1 shingle
        (4, "too short"),              # < 3 tokens -> no signature row
        (5, None),                     # NULL text -> no signature row
        (6, "r r r r r r"),            # heavy duplicate shingles
        (7, "héllo wörld ünïcode bytes test"),
        (8, ""),                       # empty -> 1 empty token -> no row
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = word_shingles(docs, "text", "doc_id", n=3, distinct=False)
    want = {
        r.id: list(r.sig)
        for r in minhash_signatures(sh, num_hashes=16).collect()
    }
    got = {
        r.id: list(r.sig)
        for r in fused_minhash_signatures(
            docs, "text", "doc_id", n=3, num_hashes=16
        ).collect()
    }
    assert got == want
    assert 4 not in got and 5 not in got and 8 not in got
    assert set(got) == {1, 2, 3, 6, 7}


def test_fused_minhash_keeps_string_ids(spark):
    # the id column keeps its type, as the expression path's groupBy does
    from hadoop_multiple_streaming_spark.operators.dedup import (
        fused_minhash_signatures,
        minhash_signatures,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [("doc-a", "the quick brown fox jumps"), ("doc-b", "x y z"),
         ("doc-c", "too short"), ("doc-d", "the quick brown fox jumps")],
        "doc_id string, text string",
    )
    fused = fused_minhash_signatures(docs, "text", "doc_id", n=3, num_hashes=8)
    assert dict(fused.dtypes)["id"] == "string"
    sh = word_shingles(docs, "text", "doc_id", n=3, distinct=False)
    want = {r.id: list(r.sig) for r in minhash_signatures(sh, num_hashes=8).collect()}
    assert {r.id: list(r.sig) for r in fused.collect()} == want
    assert set(want) == {"doc-a", "doc-b", "doc-d"}

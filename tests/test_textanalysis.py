"""Unit tests for text analysis (functions.textanalysis)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_multiple_streaming_spark.functions.textanalysis import (
    content_fingerprint,
    langid,
    min_shingle_fingerprint,
    quality_features,
    regex_token_count,
    ws_token_count,
)


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "foo bar2  baz-qux")], "id long, text string")
    r = df.select(
        ws_token_count("text").alias("ws"), regex_token_count("text").alias("re")
    ).collect()[0]
    assert r.ws == 3  # double space produces an empty token, filtered
    assert r.re == 4  # foo, bar2, baz, qux


def test_quality_features(spark):
    df = spark.createDataFrame([(1, "the cat sat on the mat")], "id long, text string")
    r = quality_features(df, "text").collect()[0]
    assert r.n_words == 6
    assert abs(r.stopword_ratio - 3 / 6) < 1e-12  # the, on, the
    assert r.nonalnum_ratio == 0.0
    assert abs(r.avg_word_len - 17 / 6) < 1e-12
    assert 0.0 <= r.quality_score <= 1.0


def test_langid_marker_argmax(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog walk to the park"),
            (2, "der Hund und die Katze sind nicht da und das ist gut"),
            (3, "xyzzy plugh"),  # no markers anywhere -> tie -> 'de'
        ],
        "id long, text string",
    )
    got = {r.id: r.predicted_lang for r in langid(df, "text").collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "de"  # alphabetical tie-break is deterministic


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "hello world extra words here")],
        "id long, text string",
    )
    got = {
        r.id: (r.fp, r.sfp)
        for r in df.select(
            "id",
            content_fingerprint("text").alias("fp"),
            min_shingle_fingerprint("text", n=3).alias("sfp"),
        ).collect()
    }
    # case/whitespace-normalized content hash matches
    assert got[1][0] == got[2][0]
    # doc 3 contains 'hello world extra' shingles; short docs hash their whole text
    assert got[3][1] is not None and len(got[3][1]) == 32


def test_duplicate_ngram_ratios(spark):
    from hadoop_multiple_streaming_spark.operators.text import duplicate_ngram_ratios

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # 2-grams: ab ba ab ba ab -> 5 total, 2 distinct
            (2, "all words differ here now"),  # no repeats
            (3, "x"),                   # below n -> ratio 0
        ],
        "doc_id long, text string",
    )
    rows = duplicate_ngram_ratios(df, "text", "doc_id").collect()
    got = {r.doc_id: (r.dup_2gram_ratio, r.dup_3gram_ratio) for r in rows}
    assert got[1] == (0.6, 0.5)   # 2g: (5-2)/5; 3g: aba bab aba bab -> (4-2)/4
    assert got[2] == (0.0, 0.0)
    assert got[3] == (0.0, 0.0)
    top = {r.doc_id: (r.top_2gram_share, r.top_3gram_share) for r in rows}
    # doc 1 2-grams: [ab, ba, ab, ba, ab] -> ab x3 / 5 = 0.6
    # doc 1 3-grams: [aba, bab, aba, bab] -> 2/4 = 0.5
    assert top[1] == (0.6, 0.5)
    # all-distinct doc: the max share is one occurrence over total
    assert top[2] == (0.25, 0.3333)  # quantize4 floors 1/3
    assert top[3] == (0.0, 0.0)


def test_redact_pii(spark):
    from hadoop_multiple_streaming_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b-c%d@sub.example.org now"),
            (2, "call +4915123456789 or visit 192.168.0.1 twice 192.168.0.2"),
            (3, "clean text, nothing to scrub"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in redact_pii(df).collect()}
    assert got[1].redacted == "mail |||EMAIL||| now"
    assert (got[1].n_email, got[1].n_phone, got[1].n_ipv4) == (1, 0, 0)
    assert got[2].redacted == "call |||PHONE||| or visit |||IPV4||| twice |||IPV4|||"
    assert (got[2].n_email, got[2].n_phone, got[2].n_ipv4) == (0, 1, 2)
    assert got[3].redacted == "clean text, nothing to scrub"
    assert (got[3].n_email, got[3].n_phone, got[3].n_ipv4) == (0, 0, 0)


def test_remove_frequent_segments(spark):
    from hadoop_multiple_streaming_spark.operators.text import (
        remove_frequent_segments,
    )

    # 3 docs share the same 2-token header segment; each has unique
    # tail tokens. Threshold 2 -> the header (df=3) is boilerplate.
    rows = [
        (1, "the header alpha beta"),
        (2, "the header gamma delta"),
        (3, "the header"),  # nothing but boilerplate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_dropped)
        for r in remove_frequent_segments(
            df, segment_tokens=2, max_doc_freq=2
        ).collect()
    }
    assert got[1] == ("alpha beta", 1)
    assert got[2] == ("gamma delta", 1)
    assert got[3] == (None, 1)  # fully-boilerplate doc -> NULL text

    # higher threshold keeps everything, order preserved
    kept = {
        r.doc_id: r.clean_text
        for r in remove_frequent_segments(
            df, segment_tokens=2, max_doc_freq=10
        ).collect()
    }
    assert kept[1] == "the header alpha beta"

    import pytest

    with pytest.raises(ValueError, match="segment_tokens"):
        remove_frequent_segments(df, segment_tokens=0)


def test_blocklist_flags_both_paths_identical(spark):
    from hadoop_multiple_streaming_spark.operators.text import blocklist_flags

    docs = spark.createDataFrame(
        [
            (1, "clean words only here"),
            (2, "contains badword in middle"),
            (3, "badword and otherbad badword twice"),  # 2 distinct hits
            (4, "scunthorpe badwordish is not a token match"),
            (5, ""),
            (6, None),  # NULL text -> (false, 0) on BOTH paths
        ],
        "doc_id long, text string",
    )
    want = {
        1: (False, 0),
        2: (True, 1),
        3: (True, 2),
        4: (False, 0),
        5: (False, 0),
        6: (False, 0),
    }
    lit_path = {
        r.doc_id: (r.blocked, r.n_blocked)
        for r in blocklist_flags(docs, ["badword", "otherbad"]).collect()
    }
    assert lit_path == want
    bl_df = spark.createDataFrame([("badword",), ("otherbad",)], "tok string")
    join_path = {
        r.doc_id: (r.blocked, r.n_blocked)
        for r in blocklist_flags(docs, bl_df).collect()
    }
    assert join_path == want


def test_rare_word_scores_exact_integer_math(spark):
    from hadoop_multiple_streaming_spark.operators.text import rare_word_scores

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c"), (3, "")],
        "doc_id long, text string",
    )
    # corpus: a=2, b=2, c=1, total=5
    # ppb: a -> 2e9//5 = 400000000, b -> 400000000, c -> 200000000
    got = {
        r.doc_id: (r.n_tokens, r.mean_freq_ppb)
        for r in rare_word_scores(docs).collect()
    }
    assert got == {
        1: (3, (400000000 * 2 + 400000000) // 3),
        2: (2, (400000000 + 200000000) // 2),
        # empty doc: no tokens -> no row (same as the SQL replay)
    }
    assert 3 not in got


def test_normalize_text_ascii_scope(spark):
    """Case folds via byte-exact translate, enumerated punctuation
    becomes space, whitespace collapses, unicode letters survive, and
    NULL/empty are safe."""
    from hadoop_multiple_streaming_spark.operators.text import normalize_text

    docs = spark.createDataFrame(
        [
            (1, "Hello,   WORLD!!  (test)"),
            (2, "Déjà-Vu 中文 ok"),
            (3, ""),
            (4, None),
            (5, "a_b+c=d"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.norm_text, r.n_chars, r.n_norm_chars)
           for r in normalize_text(docs).collect()}
    assert got[1] == ("hello world test", 24, 16)
    # unicode letters untouched (only the ASCII hyphen and case fold)
    assert got[2][0] == "déjà vu 中文 ok"
    assert got[3] == ("", 0, 0)
    assert got[4][0] is None or got[4] == (None, 0, 0) or got[4][1] == 0
    assert got[5][0] == "a b c d"


def test_winnowing_locality_guarantee(spark):
    """Two documents sharing a run of >= k + window - 1 tokens must
    share at least one identical fingerprint VALUE; positions are the
    rightmost in-window minima; short docs yield nothing; edits
    outside a shared run never remove its fingerprints."""
    from hadoop_multiple_streaming_spark.operators.text import (
        winnowing_fingerprints,
    )

    shared = "q w e r t y u i"  # 8 tokens = k + window - 1 for (4, 5)
    docs = spark.createDataFrame(
        [
            (1, "aa bb " + shared + " cc"),
            (2, shared + " zz xx yy vv"),
            (3, "totally different words here nothing shared at all"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    fps = winnowing_fingerprints(docs, k=4, window=5)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared 8-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc.get(3, set()))
    assert 4 not in by_doc
    # python reference replay on doc 2 (starts at the shared run)
    import hashlib

    toks = (shared + " zz xx yy vv").split()
    hs = [
        int(hashlib.md5(" ".join(toks[i : i + 4]).encode()).hexdigest()[:15], 16)
        for i in range(len(toks) - 3)
    ]
    want = set()
    for j in range(len(hs) - 4):
        sl = hs[j : j + 5]
        mn = min(sl)
        rpos = max(i for i, v in enumerate(sl) if v == mn)
        want.add((j + rpos + 1, mn))
    got = {(r.pos, r.fp) for r in fps.where(F.col("doc_id") == 2).collect()}
    assert got == want
    import pytest

    with pytest.raises(ValueError, match="window"):
        winnowing_fingerprints(docs, k=4, window=0)


def test_winnowing_pairs_counts_and_guard(spark):
    from hadoop_multiple_streaming_spark.operators.text import (
        winnowing_fingerprints,
        winnowing_pairs,
    )

    shared = "q w e r t y u i o p a s"
    docs = spark.createDataFrame(
        [
            (1, shared + " one tail here"),
            (2, shared + " two other tail"),
            (3, "unrelated totally different words everywhere always"),
        ],
        "doc_id long, text string",
    )
    fps = winnowing_fingerprints(docs, k=4, window=5)
    # guarantee is >= ONE shared fingerprint per shared run (adjacent
    # windows often re-select the same minimum, so 2+ is not promised)
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnowing_pairs(fps.select("doc_id", "fp"), min_shared=1).collect()
    }
    assert set(got) == {(1, 2)} and got[(1, 2)] >= 1
    # a max_bucket_size of 1 suppresses every bucket -> no pairs
    assert (
        winnowing_pairs(
            fps.select("doc_id", "fp"), min_shared=1, max_bucket_size=1
        ).count()
        == 0
    )


def test_bpe_pair_counts_weighted_and_single_char_safe(spark):
    from hadoop_multiple_streaming_spark.operators.text import bpe_pair_counts

    df = spark.createDataFrame(
        # 'ab' appears 3x across the corpus, 'a' (1-char: no pairs) 2x,
        # 'abc' once -> pairs: (a,b) 3+1=4, (b,c) 1
        [(1, "ab ab a"), (2, "ab a abc")],
        "doc_id long, text string",
    )
    out = {
        (r["left"], r["right"]): r["cnt"]
        for r in bpe_pair_counts(df, "text").collect()
    }
    assert out == {("a", "b"): 4, ("b", "c"): 1}


def test_bpe_pair_counts_topk_take_ordered(spark):
    from hadoop_multiple_streaming_spark.operators.text import bpe_pair_counts

    df = spark.createDataFrame([(1, "ab ab bc")], "doc_id long, text string")
    topk = bpe_pair_counts(df, "text", top_k=1)
    plan = topk._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = topk.collect()
    assert [(r["left"], r["right"], r["cnt"]) for r in rows] == [("a", "b", 2)]


def test_grouped_token_partials_impls_identical(spark):
    from pyspark.sql import functions as F

    from hadoop_multiple_streaming_spark.functions.textanalysis import (
        grouped_token_partials,
    )

    df = spark.createDataFrame(
        [
            (1, "en", "a b  c"),      # double space -> empty segment counts
            (2, "en", " lead trail "),  # leading/trailing spaces
            (3, "de", ""),            # empty string -> 1 segment
            (4, "de", None),          # NULL -> contributes nothing
            (5, None, "x y"),         # NULL group key
        ],
        "doc_id long, lang string, text string",
    )
    want = {("en", 4 + 4), ("de", 1), (None, 2)}
    got = {
        (r["lang"], r["s"])
        for r in grouped_token_partials(df, "lang", "text")
        .groupBy("lang")
        .agg(F.sum("_tok").alias("s"))
        .collect()
    }
    assert got == want
    # and it matches the dashboard formula length - length(replace) + 1
    formula = {
        (r["lang"], r["s"])
        for r in df.groupBy("lang")
        .agg(
            F.sum(
                F.length("text")
                - F.length(F.expr("replace(text, ' ', '')"))
                + F.lit(1)
            ).alias("s")
        )
        .collect()
    }
    assert formula == want


def test_word_frequencies_impls_identical(spark):
    from hadoop_multiple_streaming_spark.operators.text import word_frequencies

    df = spark.createDataFrame(
        [(1, "ab ab  a"), (2, ""), (3, None), (4, "a b ")],
        "doc_id long, text string",
    )
    want = {("ab", 2), ("a", 2), ("b", 1)}
    got = {(r["w"], r["f"]) for r in word_frequencies(df, "text").collect()}
    assert got == want


def test_grouped_token_partials_int_group_col(spark):
    """r14 (ADVICE r13): the mapInPandas output schema derives the
    group field's type from the input — an int group column must work,
    not be silently declared string."""
    from pyspark.sql import functions as F

    from hadoop_multiple_streaming_spark.functions.textanalysis import (
        grouped_token_partials,
    )

    df = spark.createDataFrame(
        [(7, "a b"), (7, "c"), (9, "x y z"), (9, None)],
        "grp long, text string",
    )
    out = grouped_token_partials(df, "grp", "text")
    assert dict(out.dtypes)["grp"] == "bigint"
    got = {
        (r["grp"], r["s"])
        for r in out.groupBy("grp").agg(F.sum("_tok").alias("s")).collect()
    }
    assert got == {(7, 3), (9, 3)}


def test_grouped_token_partials_all_null_group_sums_null(spark):
    """A group whose texts are ALL NULL must produce a NULL total (SQL
    SUM over an all-NULL group), not 0 — pandas' default sum of an
    all-NaN group is 0; the kernel passes min_count=1 to prevent it."""
    from pyspark.sql import functions as F

    from hadoop_multiple_streaming_spark.functions.textanalysis import (
        grouped_token_partials,
    )

    df = spark.createDataFrame(
        [("de", None), ("de", None), ("en", "a b")],
        "lang string, text string",
    )
    got = {
        (r["lang"], r["s"])
        for r in grouped_token_partials(df, "lang", "text")
        .groupBy("lang")
        .agg(F.sum("_tok").alias("s"))
        .collect()
    }
    assert got == {("de", None), ("en", 2)}


def test_corpus_health_null_lang_no_fanout(spark, tmp_path):
    """r14 (ADVICE r13): corpus_health's two rollup branches join on
    (lang, grouping flag) — with a real NULL-lang document, the rollup
    grand-total row and the NULL-lang group row are both lang-NULL, and
    an eqNullSafe(lang)-only join would 2x2-fanout and double-count."""
    from hadoop_multiple_streaming_spark.workloads.text import corpus_health

    docs = spark.createDataFrame(
        [
            (1, "a b", "en", "s", 3),
            (2, "c d e", None, "s", 5),
            (3, "c d e", None, "s", 5),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rows = corpus_health(spark, str(tmp_path)).collect()
    # exactly 3 rows: en group, NULL-lang group, grand total (no fanout)
    assert len(rows) == 3, rows
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    # NULL-lang group and the grand total both surface as '<all>'
    assert len(by_lang["<all>"]) == 2
    assert len(by_lang["en"]) == 1
    stats = {
        (r.n_docs, r.n_distinct, r.total_tokens) for r in by_lang["<all>"]
    }
    # NULL-lang group: 2 docs, 1 distinct, 6 tokens; total: 3/2/8
    assert stats == {(2, 1, 6), (3, 2, 8)}


def test_greedy_tokenize_counts_matches_python_reference(spark):
    """r14: WordPiece-style greedy longest-match segmentation — pinned
    against a hand-runnable python reference, including the
    inside-word vocab match ('breathe' -> b re a the: greedy finds
    'the' at position 5, not 'th'+'e'), single-char fallback, word
    frequency weighting, multi-space empties, and the deterministic
    (cnt desc, token) top-k cut."""
    from hadoop_multiple_streaming_spark.operators.text import (
        greedy_tokenize_counts,
    )

    vocab = ("the", "th", "ing", "re", "ea", "of")
    df = spark.createDataFrame(
        [("the theory of  things",), ("breathe the thing",)], "text string"
    )
    got = {
        (r.token, r.cnt)
        for r in greedy_tokenize_counts(df, "text", vocab=vocab).collect()
    }

    def ref(words):
        agg = {}
        lens = sorted({len(v) for v in vocab}, reverse=True)
        for w in words:
            pos = 0
            while pos < len(w):
                tok = next(
                    (
                        w[pos : pos + L]
                        for L in lens
                        if w[pos : pos + L] in vocab
                    ),
                    w[pos],
                )
                agg[tok] = agg.get(tok, 0) + 1
                pos += len(tok)
        return set(agg.items())

    words = "the theory of things breathe the thing".split()
    assert got == ref(words)
    assert ("the", 4) in got and ("th", 2) in got and ("ing", 2) in got
    # top-k cut is deterministic: cnt desc then token asc
    top = [
        (r.token, r.cnt)
        for r in greedy_tokenize_counts(
            df, "text", vocab=vocab, top_k=3
        ).collect()
    ]
    assert top == sorted(got, key=lambda t: (-t[1], t[0]))[:3]

    import pytest

    with pytest.raises(ValueError, match="vocab"):
        greedy_tokenize_counts(df, "text", vocab=())


def test_greedy_token_counts_per_doc(spark):
    """r14: per-doc token counts under the applied vocab — zero-shuffle
    projection, memoized per-word segmentation; NULL/empty text counts
    0, int id schema derived from the input."""
    from hadoop_multiple_streaming_spark.operators.text import (
        greedy_token_counts_per_doc,
    )

    vocab = ("the", "ing", "re")
    df = spark.createDataFrame(
        [
            (1, "the thing"),        # the=1; thing=th? no 'th' -> t,h,ing=3 -> 4
            (2, ""),                 # 0 tokens
            (3, None),               # NULL -> 0
            (4, "rere  the"),        # rere=re,re=2; the=1 -> 3 (double space)
        ],
        "doc_id long, text string",
    )
    out = greedy_token_counts_per_doc(df, "text", "doc_id", vocab=vocab)
    assert dict(out.dtypes) == {"doc_id": "bigint", "n_tokens": "bigint"}
    got = {(r.doc_id, r.n_tokens) for r in out.collect()}
    assert got == {(1, 4), (2, 0), (3, 0), (4, 3)}
    # plan: stateless projection — no exchange anywhere
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

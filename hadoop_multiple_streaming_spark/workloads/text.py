"""Text-analysis workload queries over the documents table: token
counting, quality scoring, language ID, fingerprinting — each
oracle-verified (functions.textanalysis keeps the math SQL-replicable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textanalysis import (
    LANG_MARKERS,
    STOPWORDS,
    content_fingerprint,
    langid,
    min_shingle_fingerprint,
    quality_features,
    regex_token_count,
    ws_token_count,
)
from . import register
from .tables import load, spread_scan

_TOKS = "list_filter(string_split(text, ' '), t -> t <> '')"


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           len({_TOKS}) AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_re_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + regex (BPE-ish pre-tokenizer) token counts."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ws_token_count("text").alias("n_ws_tokens"),
        regex_token_count("text").alias("n_re_tokens"),
    )


def _stop_list_sql() -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


@register(
    "text_quality_score",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id,
               CAST(strlen(text) AS BIGINT) AS n_chars_text,
               len({_TOKS}) AS n_words,
               CASE WHEN len({_TOKS}) > 0 THEN
                 CAST(list_aggregate(list_transform({_TOKS}, t -> strlen(t)), 'sum') AS DOUBLE)
                 / len({_TOKS})
               ELSE 0.0 END AS avg_word_len,
               CASE WHEN len({_TOKS}) > 0 THEN
                 CAST(len(list_filter({_TOKS}, t -> list_contains({{stops}}, t))) AS DOUBLE)
                 / len({_TOKS})
               ELSE 0.0 END AS stopword_ratio,
               CASE WHEN strlen(text) > 0 THEN
                 CAST(strlen(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
                 / CAST(strlen(text) AS BIGINT)
               ELSE 0.0 END AS nonalnum_ratio
        FROM documents
    )
    SELECT doc_id, n_chars_text, n_words, avg_word_len, stopword_ratio, nonalnum_ratio,
           least(CAST(n_words AS DOUBLE) / 200.0, 1.0)
             * (1.0 - stopword_ratio / 2.0) * (1.0 - nonalnum_ratio) AS quality_score
    FROM feat
    """.replace("{stops}", _stop_list_sql()),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + composite score (length credit x stopword
    discount x punctuation discount), all from exact integer sums."""
    docs = load(spark, sf_dir, "documents")
    return quality_features(docs, "text").select(
        "doc_id",
        "n_chars_text",
        "n_words",
        "avg_word_len",
        "stopword_ratio",
        "nonalnum_ratio",
        "quality_score",
    )


def _langid_oracle() -> str:
    score_cols = []
    for lang in sorted(LANG_MARKERS):
        arr = "[" + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]) + "]"
        score_cols.append(
            f"CAST(len(list_filter({_TOKS}, t -> list_contains({arr}, t))) AS BIGINT)"
            f" AS score_{lang}"
        )
    langs = sorted(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
    WITH scores AS (SELECT doc_id, lang, {', '.join(score_cols)} FROM documents)
    SELECT doc_id, lang, {', '.join(f'score_{lang}' for lang in langs)},
           {case} AS predicted_lang
    FROM scores
    """


@register("text_langid", oracle=_langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID (argmax of per-language marker
    hits, alphabetical tie-break)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return langid(docs, "text").drop("text")


def _split_oracle() -> str:
    from ..functions.sampling import SPACE

    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    t_train = int(0.8 * SPACE)
    t_val = int((0.8 + 0.1) * SPACE)
    return f"""
    WITH hashed AS (
        SELECT lang, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
    ),
    valued AS (SELECT lang, {nibbles} AS v FROM hashed)
    SELECT CASE WHEN v < {t_train} THEN 'train'
                WHEN v < {t_val} THEN 'val'
                ELSE 'test' END AS split,
           lang, COUNT(*) AS cnt
    FROM valued GROUP BY 1, 2
    """


@register("dataset_split", oracle=_split_oracle())
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment keyed on the
    doc id hash (functions.sampling): stable across runs/engines/
    cluster sizes, and adding data never reassigns existing rows —
    unlike randomSplit. Counted per (split, lang)."""
    from ..functions.sampling import assign_split

    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            assign_split("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).alias(
                "split"
            ),
            "lang",
        )
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _stratified_oracle() -> str:
    from ..functions.sampling import SPACE

    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    t_en = int(0.3 * SPACE)
    t_zh = int(0.5 * SPACE)
    return f"""
    WITH hashed AS (
        SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
    ),
    valued AS (SELECT doc_id, lang, {nibbles} AS v FROM hashed)
    SELECT doc_id, lang FROM valued
    WHERE NOT (lang = 'en' AND v >= {t_en})
      AND NOT (lang = 'zh' AND v >= {t_zh})
    """


def _quota_oracle() -> str:
    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"""
    WITH hashed AS (
        SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY {nibbles}, doc_id) AS rk
        FROM hashed
    )
    SELECT doc_id, lang FROM ranked WHERE rk <= 40
    """


def _priority_sample_oracle() -> str:
    from ..functions.sampling import _P_SCALE, SPACE

    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"""
    WITH hashed AS (
        SELECT doc_id, lang, greatest(n_chars, 1) AS w,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ),
    valued AS (SELECT doc_id, lang, w, {nibbles} AS v FROM hashed)
    SELECT doc_id, lang, w,
           (w * {SPACE * _P_SCALE}) // (v + 1) AS priority
    FROM valued
    ORDER BY priority DESC, doc_id
    LIMIT 120
    """


@register("priority_sample_docs", oracle=_priority_sample_oracle())
def priority_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted sample without replacement — priority sampling
    (Duffield/Lund/Thorup): 120 documents with inclusion probability
    increasing in doc length, the 'prefer substantive documents but
    keep a tail of short ones' selection step of a curation mix.
    Priorities are exact integers — ``(w * 16^6 * 1024) div (hash+1)``
    over the module's md5 uniform — so the selected set is replayable
    bit-exactly in ANSI SQL (the classic u^(1/w) order key is not:
    measured last-ulp ln() divergence between engines). Plan shape:
    stateless projection + TakeOrderedAndProject (per-partition top-k,
    driver merges k rows/partition — no global sort shuffle)."""
    from ..functions.sampling import priority_sample

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.greatest(F.col("n_chars"), F.lit(1)).alias("w"),
    )
    return priority_sample(docs, "doc_id", "w", k=120)


@register("quota_sample", oracle=_quota_oracle())
def quota_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quota capping (functions.sampling.quota_sample): at
    most 40 documents per language, membership decided by hash rank so
    the kept set is stable across runs, engines and cluster sizes —
    the 'no single domain/language dominates' cap every corpus mix
    applies. One window over hashpartitioning(lang)."""
    from ..functions.sampling import quota_sample

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return quota_sample(docs, "doc_id", "lang", quota=40)


@register("stratified_sample", oracle=_stratified_oracle())
def stratified_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic downsampling (the corpus-rebalancing
    step of a curation pipeline): keep 30% of 'en' docs and 50% of
    'zh', all other languages untouched — keyed on the doc-id hash so
    membership is stable across runs/engines/cluster sizes and is a
    stateless map (no shuffle, no coordination at 100 TB)."""
    from ..functions.sampling import stratified_sample

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(docs, "doc_id", "lang", {"en": 0.3, "zh": 0.5})


#: 20 tokens exactly — one full segment, so prepending it keeps every
#: document's organic segments window-aligned
_BOILERPLATE = (
    "nav home about products pricing docs blog careers contact login "
    "signup search menu footer terms privacy copyright all rights reserved"
)


@register(
    "text_boilerplate_removal",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split('{_BOILERPLATE} ' || text, ' '),
                           t -> t <> '') AS tk
        FROM documents
    ),
    segs AS (
        SELECT doc_id, CAST(i AS INT) AS pos,
               array_to_string(tk[i * 20 + 1 : i * 20 + 20], ' ') AS seg
        FROM toks, UNNEST(range(0, CAST(ceil(len(tk) / 20.0) AS INT))) t(i)
    ),
    freq AS (SELECT seg, COUNT(DISTINCT doc_id) AS seg_df FROM segs GROUP BY seg)
    SELECT s.doc_id,
           string_agg(CASE WHEN f.seg_df <= 50 THEN s.seg END,
                      ' ' ORDER BY s.pos) AS clean_text,
           CAST(count_if(f.seg_df > 50) AS BIGINT) AS n_dropped
    FROM segs s JOIN freq f USING (seg)
    GROUP BY s.doc_id
    """,
)
def text_boilerplate_removal_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate removal (operators.text.
    remove_frequent_segments — the CCNet-style paragraph dedup pass):
    the synthetic corpus has no shared chrome, so the query prepends
    the SAME 20-token header to every document (what site navigation
    looks like after text extraction); the operator must discover it
    by corpus-wide segment frequency (appears in all 500+ docs,
    threshold 50) and strip it while keeping each document's organic
    segments in order. Oracle replays segmentation + frequency +
    reassembly in SQL; hash equality proves the distributed
    count-join-regroup matches exactly."""
    from ..operators.text import remove_frequent_segments

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.lit(_BOILERPLATE + " "), F.col("text")).alias("text")
    )
    return remove_frequent_segments(
        docs, "text", "doc_id", segment_tokens=20, max_doc_freq=50
    )


def _pii_oracle() -> str:
    """Replay the seeded-PII redaction in DuckDB, chain generated from
    the SAME PII_PATTERNS list the operator uses (one source of truth
    for the regexes)."""
    from ..operators.text import PII_PATTERNS

    seed = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
        "'@example.com or +14155550' || "
        "lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || "
        "' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
    )
    red = "t"
    for kind, pat in PII_PATTERNS:
        red = (
            "regexp_replace(" + red + ", '" + pat + "', '|||"
            + kind.upper() + "|||', 'g')"
        )
    counts = ", ".join(
        "len(regexp_extract_all(t, '" + pat + "')) AS n_" + kind
        for kind, pat in PII_PATTERNS
    )
    return (
        "WITH seeded AS (SELECT doc_id, " + seed + " AS t FROM documents) "
        "SELECT doc_id, " + red + " AS redacted, " + counts + " FROM seeded"
    )


@register("text_pii_redact", oracle=_pii_oracle())
def text_pii_redact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators.text.redact_pii): emails, phone
    numbers and IPv4 addresses scrubbed to |||KIND||| placeholders with
    per-kind match counts — the standard pre-training privacy pass.
    The synthetic corpus contains no PII, so the query SEEDS one
    deterministic span of each kind per document (derived from doc_id,
    reproducible in SQL); the oracle replays seeding + redaction with
    the same regexes, proving the two regex engines (Java util.regex
    vs RE2) agree character-for-character on the RE2-safe pattern
    subset. Shuffle-free projection — scan speed at any scale."""
    from ..operators.text import redact_pii

    docs = load(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +14155550"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    return redact_pii(seeded)


# hex-pair -> byte value, in pure SQL (DuckDB hashes only VARCHAR, so
# every payload-byte quantity is derived from the hex string instead)
_HEXV = "(strpos('0123456789abcdef', hx[{p}]) - 1)"
_BYTE0 = f"({_HEXV.format(p=1)} * 16 + {_HEXV.format(p=2)})"
_BYTE1 = f"({_HEXV.format(p=3)} * 16 + {_HEXV.format(p=4)})"
_BYTE2 = f"({_HEXV.format(p=5)} * 16 + {_HEXV.format(p=6)})"


@register(
    "multimodal_features",
    oracle=f"""
    WITH m AS (
        SELECT CAST(i AS BIGINT) AS id,
               CASE WHEN i % 3 = 0 THEN 'video' ELSE 'image' END AS modality,
               repeat(md5('media-' || CAST(i AS VARCHAR)), 4 + i % 7) AS hx
        FROM range(0, 128) t(i)
    )
    SELECT id, modality,
           CAST(len(hx) // 2 AS BIGINT) AS n_bytes,
           sha256(hx) AS content_sha,
           CAST(16 + {_BYTE0} % 64 AS INT) AS width,
           CAST(16 + {_BYTE1} % 64 AS INT) AS height,
           CAST(1 + {_BYTE2} % 3 AS INT) AS channels
    FROM m
    """,
)
def multimodal_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end (operators.multimodal): synthetic
    binary payloads -> Arrow-batched mapInPandas feature extraction
    (deterministic fake decoder standing in for the absent codec
    libraries). Oracle-checkable because every feature is a pure
    function of the payload bytes and those bytes are md5-derived
    (payload = unhex(repeat(md5('media-i'), 4 + i%7))): DuckDB rebuilds
    the hex rendering and replays n_bytes / sha256-of-hex fingerprint /
    leading-byte pseudo-dimensions in plain SQL — a value-level check
    of the whole Arrow batch path, not just a row count."""
    from ..operators.multimodal import extract_features, fake_decode_meta, synthesize_media

    media = synthesize_media(spark, n=128)
    return extract_features(media, decoder=fake_decode_meta)


def _profile_oracle() -> str:
    from ..operators.text import EN_STOPWORDS, TOKEN_REGEX

    stops = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"
    # char-level polynomial rolling hash (init 0, acc*31 + codepoint
    # mod 2^31-1), folded per word; then word-level fold (init 7,
    # acc*1000003 + word_val) — DuckDB's list_reduce replays Spark's
    # F.aggregate fold exactly (same left-to-right order, same
    # integer mod arithmetic)
    wv = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))), "
        "(acc, c) -> (acc * 31 + c) % 2147483647)"
    )
    fp = (
        f"list_reduce(list_prepend(CAST(7 AS BIGINT), "
        f"list_transform({_TOKS}, t -> {wv})), "
        f"(acc, x) -> (acc * 1000003 + x) % 2147483647)"
    )
    return f"""
    WITH feat AS (
        SELECT doc_id,
               {_TOKS} AS toks,
               len({_TOKS}) AS n_tokens,
               len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS n_bpe_tokens,
               CASE WHEN length(text) > 0 THEN
                 CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
                 / length(text) ELSE 0.0 END AS punct_ratio,
               {fp} AS fingerprint
        FROM documents
    ),
    r AS (
        SELECT doc_id, n_tokens, n_bpe_tokens, punct_ratio, fingerprint,
               CASE WHEN n_tokens > 0 THEN
                 CAST(len(list_filter(toks, t -> list_contains({stops}, t))) AS DOUBLE)
                 / n_tokens ELSE 0.0 END AS stop_raw,
               CASE WHEN n_tokens > 0 THEN
                 CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens
               ELSE 0.0 END AS uniq_raw,
               CASE WHEN n_tokens > 0 THEN
                 CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                 / n_tokens ELSE 0.0 END AS mwl_raw
        FROM feat
    )
    SELECT doc_id, n_tokens, n_bpe_tokens,
           floor(stop_raw * 10000.0) / 10000.0 AS stopword_ratio,
           floor(uniq_raw * 10000.0) / 10000.0 AS unique_ratio,
           floor(mwl_raw * 10000.0) / 10000.0 AS mean_word_len,
           CASE WHEN stop_raw >= 0.05 THEN 'en' ELSE 'unknown' END AS lang_guess,
           floor((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
                  + uniq_raw * 0.3
                  + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2
                  + (CASE WHEN mwl_raw >= 3.0 AND mwl_raw <= 10.0
                     THEN 1.0 ELSE 0.5 END) * 0.2) * 10000.0) / 10000.0 AS quality,
           fingerprint
    FROM r
    """


@register("text_profile", oracle=_profile_oracle())
def text_profile_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-document profile (operators.text.text_profile):
    token counts, ratios, language guess, quality, polynomial rolling-
    hash fingerprint — a single projection, no shuffle. The oracle
    replays the whole profile including the rolling-hash folds via
    DuckDB list_reduce (identical fold order and integer mod math)."""
    from ..operators.text import text_profile

    docs = load(spark, sf_dir, "documents")
    return text_profile(docs, "text", "doc_id")


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS content_md5,
           list_aggregate(
               list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
                   i -> md5(array_to_string(string_split(text, ' ')[i:i+2], ' '))),
               'min') AS shingle_min_fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: exact md5 of normalized text + rolling
    min-shingle fingerprint (1-hash MinHash, edit-robust)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        content_fingerprint("text").alias("content_md5"),
        min_shingle_fingerprint("text", n=3).alias("shingle_min_fp"),
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks WHERE term <> '' GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfc FROM tf GROUP BY term),
    scored AS (
        SELECT doc_id, term, tf,
               CAST(tf AS DOUBLE) / dfc AS score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY CAST(tf AS DOUBLE) / dfc DESC, term)
                   AS rn
        FROM tf JOIN dfreq USING (term)
    )
    SELECT doc_id, term, tf, score FROM scored WHERE rn <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by TF/DF weighting (term frequency over
    corpus document frequency — a log-free tf-idf variant whose score
    is ONE exact IEEE division of two small integers, so it compares
    bit-for-bit across engines; ln(idf) would diverge by libm ulps).

    Plan: token explode -> groupBy(doc, term) [shuffle 1] ->
    document frequencies derived FROM tf [shuffle 2 on term] -> join
    back on term -> per-doc window top-3 [shuffle 3 on doc_id]. The
    tf⋈dfreq join is NOT hint-broadcast: a web-scale vocabulary (URLs,
    typos, code tokens) grows with the corpus, so the join shuffles on
    term — and both sides arrive already term-partitioned from the
    dfreq aggregation, so the exchange is reusable; AQE converts to
    broadcast at runtime when the measured vocab is genuinely small."""
    docs = spread_scan(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfc"))
    scored = tf.join(dfreq, "term").withColumn(
        "score", F.col("tf").cast("double") / F.col("dfc")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "score")
    )


@register(
    "text_top_bigrams",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    ngrams AS (SELECT array_to_string(t[i:i+1], ' ') AS bigram
               FROM toks, UNNEST(range(1, greatest(len(t) - 1, 0) + 1)) u(i)),
    counts AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM ngrams GROUP BY bigram)
    SELECT bigram, cnt FROM counts
    ORDER BY cnt DESC, bigram LIMIT 20
    """,
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 word bigrams (the n-gram census every
    pretraining-data audit runs). One shuffle (groupBy bigram with
    map-side combine) + a global top-k (TakeOrderedAndProject — never
    a full sort at scale); ties broken by the bigram string."""
    from ..operators.dedup import word_shingles

    docs = spread_scan(load(spark, sf_dir, "documents"))
    grams = word_shingles(docs, "text", "doc_id", n=2, distinct=False)
    return (
        grams.groupBy(F.col("shingle").alias("bigram"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(20)
    )


@register(
    "text_sentence_stats",
    oracle="""
    WITH s AS (SELECT lang, unnest(string_split(text, '. ')) AS sentence
               FROM documents),
    t AS (SELECT lang, sentence,
                 len(string_split(sentence, ' ')) AS n
          FROM s WHERE sentence <> '')
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sentences,
           CAST(SUM(n) AS BIGINT) AS total_tokens
    FROM t GROUP BY lang
    """,
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (§2.7): sentence rows via a LATERAL table
    function, aggregated per language. The oracle replays the split
    natively — pinning that the UDTF's row expansion semantics match
    explode(split(...)) exactly."""
    from ..functions.textanalysis import sentence_udtf

    spark.udtf.register("split_sentences", sentence_udtf())
    load(spark, sf_dir, "documents").createOrReplaceTempView("_docs_udtf")
    return spark.sql(
        """
        SELECT lang, CAST(COUNT(*) AS LONG) AS n_sentences,
               CAST(SUM(s.n_tokens) AS LONG) AS total_tokens
        FROM _docs_udtf, LATERAL split_sentences(text) s
        GROUP BY lang
        """
    )


def _curation_oracle() -> str:
    """DuckDB replay of the curation pipeline: quality score + filter,
    exact dedup representatives, split, per-(split, lang) stats."""
    from ..functions.sampling import SPACE

    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    t_train = int(0.8 * SPACE)
    t_val = int((0.8 + 0.1) * SPACE)
    return f"""
    WITH feat AS (
        SELECT doc_id, lang, text,
               len({_TOKS}) AS n_words,
               CASE WHEN len({_TOKS}) > 0 THEN
                 CAST(len(list_filter({_TOKS}, t -> list_contains({{stops}}, t))) AS DOUBLE)
                 / len({_TOKS})
               ELSE 0.0 END AS stopword_ratio,
               CASE WHEN strlen(text) > 0 THEN
                 CAST(strlen(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
                 / CAST(strlen(text) AS BIGINT)
               ELSE 0.0 END AS nonalnum_ratio
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang, text, n_words,
               least(CAST(n_words AS DOUBLE) / 200.0, 1.0)
                 * (1.0 - stopword_ratio / 2.0) * (1.0 - nonalnum_ratio) AS q
        FROM feat
    ),
    kept AS (SELECT * FROM scored WHERE q >= 0.3 AND n_words >= 50),
    rep AS (
        SELECT MIN(doc_id) AS doc_id,
               arg_min(lang, doc_id) AS lang,
               arg_min(n_words, doc_id) AS n_words
        FROM kept GROUP BY md5(text)
    ),
    split AS (
        SELECT lang, n_words, {nibbles} AS v
        FROM (SELECT lang, n_words, md5(CAST(doc_id AS VARCHAR)) AS h FROM rep)
    )
    
    SELECT CASE WHEN v < {t_train} THEN 'train'
                WHEN v < {t_val} THEN 'val'
                ELSE 'test' END AS split,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_tokens
    FROM split GROUP BY 1, 2
    """.replace("{stops}", _stop_list_sql())


@register("curation_pipeline", oracle=_curation_oracle())
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation flow in ONE declarative
    plan: quality scoring -> threshold filter -> exact dedup with a
    deterministic min-id representative (lang/n_words via min_by so
    the representative's attributes survive) -> hash-keyed train/val/
    test assignment -> per-(split, lang) corpus stats. One scan, two
    shuffles (dedup hash, final rollup) — the shape every 100 TB
    curation run takes; swap the exact-dedup stage for MinHash-LSH +
    Jaccard verify when near-dup is wanted."""
    from ..functions.sampling import assign_split

    docs = load(spark, sf_dir, "documents")
    scored = quality_features(docs, "text").select(
        "doc_id", "lang", "text", "n_words", "quality_score"
    )
    kept = scored.where(
        (F.col("quality_score") >= 0.3) & (F.col("n_words") >= 50)
    )
    rep = kept.groupBy(F.md5("text")).agg(
        F.min("doc_id").alias("doc_id"),
        F.expr("min_by(lang, doc_id)").alias("lang"),
        F.expr("min_by(n_words, doc_id)").alias("n_words"),
    )
    return (
        rep.select(
            assign_split("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).alias(
                "split"
            ),
            "lang",
            "n_words",
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_tokens"),
        )
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT CAST(i AS BIGINT) AS id,
           CAST(s AS INT) AS sample_idx,
           CAST(s * 30 AS BIGINT) AS frame_idx,
           CAST(s * 30 * 1024 AS BIGINT) AS byte_offset
    FROM range(0, 64) t(i), range(0, 4) u(s)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling from metadata alone (no decode, pure
    Column math): synthetic video records -> per-second frame indices
    and byte offsets. The downstream decode touches only these
    offsets — the 100 TB pattern where the media bytes never enter a
    shuffle. Oracle: the synthetic meta is fixed (30 fps, 4 s, 1024
    bytes/frame), so the expected sample grid is exact SQL — checks
    the sequence/explode/floor offset math value-for-value."""
    from ..operators.multimodal import sample_frame_offsets, synthesize_media

    media = synthesize_media(spark, n=64, modality="video")
    return sample_frame_offsets(media, every_n_seconds=1.0)


@register(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, len({_TOKS}) AS n_tokens FROM documents
    ),
    packed AS (
        SELECT lang,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // 2048 AS BIGINT) AS pack_id,
               n_tokens
        FROM toks
    )
    SELECT lang, pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM packed GROUP BY lang, pack_id
    """,
)
def pack_sequences_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (functions.packing): documents binned into
    2048-token packs per language by contiguous prefix-sum assignment —
    the pre-tokenization batching step of an LLM training pipeline,
    expressed as one window cumulative sum (parallel across languages,
    no sequential bin state). Reported as per-pack occupancy stats."""
    from ..functions.packing import assign_packs, pack_stats
    from ..operators.text import token_count_whitespace

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count_whitespace(F.col("text")).alias("n_tokens")
    )
    packed = assign_packs(
        docs, "doc_id", "n_tokens", budget=2048, partition_cols=["lang"]
    )
    return pack_stats(packed, "n_tokens", ["lang"]).withColumn(
        "pack_tokens", F.col("pack_tokens").cast("long")
    )


@register(
    "pack_sequences_global",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents
    ),
    packed AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // 2048 AS BIGINT) AS pack_id
        FROM toks
    )
    SELECT pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM packed GROUP BY pack_id
    """,
)
def pack_sequences_global_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL-order sequence packing: one corpus-wide 2048-token pack
    sequence in doc_id order, WITHOUT the single-partition window the
    naive form plans — range-bucketed two-pass prefix sum
    (functions.packing.assign_packs_global): local sums parallel per
    bucket, per-bucket offsets from a num_buckets-row aggregate. The
    oracle replays it as a plain global window (the bucketing is
    provably output-invariant), so the hash check proves the
    distributed prefix sum IS the global prefix sum."""
    from ..functions.packing import assign_packs_global, pack_stats
    from ..operators.text import token_count_whitespace

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", token_count_whitespace(F.col("text")).alias("n_tokens")
    )
    packed = assign_packs_global(
        docs, "doc_id", "n_tokens", budget=2048, num_buckets=8
    )
    return pack_stats(packed, "n_tokens", []).withColumn(
        "pack_tokens", F.col("pack_tokens").cast("long")
    )


@register(
    "text_repetition",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, ({_TOKS})[1:2000] AS t FROM documents
    ),
    grams AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 2 THEN
                 list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
               ELSE [] END AS g2,
               CASE WHEN len(t) >= 3 THEN
                 list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END AS g3
        FROM toks
    )
    SELECT doc_id,
           CASE WHEN len(g2) > 0 THEN
             floor(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2)
                   * 10000.0) / 10000.0 ELSE 0.0 END AS dup_2gram_ratio,
           CASE WHEN len(g2) > 0 THEN
             floor(CAST(list_max(list_transform(list_distinct(g2),
                        d -> len(list_filter(g2, e -> e = d)))) AS DOUBLE)
                   / len(g2) * 10000.0) / 10000.0 ELSE 0.0 END AS top_2gram_share,
           CASE WHEN len(g3) > 0 THEN
             floor(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)
                   * 10000.0) / 10000.0 ELSE 0.0 END AS dup_3gram_ratio,
           CASE WHEN len(g3) > 0 THEN
             floor(CAST(list_max(list_transform(list_distinct(g3),
                        d -> len(list_filter(g3, e -> e = d)))) AS DOUBLE)
                   / len(g3) * 10000.0) / 10000.0 ELSE 0.0 END AS top_3gram_share
    FROM grams
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (operators.text.duplicate_ngram_ratios):
    duplicate 2-gram / 3-gram fractions per document — the
    RefinedWeb/Gopher repetition filters, as one shuffle-free
    projection."""
    from ..operators.text import duplicate_ngram_ratios

    docs = load(spark, sf_dir, "documents")
    return duplicate_ngram_ratios(docs, "text", "doc_id", ns=(2, 3))


@register(
    "pack_texts",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, text, len({_TOKS}) AS n_tokens FROM documents
    ),
    packed AS (
        SELECT lang, doc_id, text,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // 2048 AS BIGINT) AS pack_id
        FROM toks
    )
    SELECT lang, pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS packed_text
    FROM packed GROUP BY lang, pack_id
    """,
)
def pack_texts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing pipeline end-to-end: assign documents to 2048-token
    packs (pack_sequences' prefix-sum assignment), then materialize
    each pack as ONE training sequence — members concatenated in doc-id
    order with a blank-line joiner. The per-pack collect is bounded by
    the token budget; the pack groupBy rides the window's lang
    partitioning (no extra exchange)."""
    from ..functions.packing import assign_packs, pack_texts
    from ..operators.text import token_count_whitespace

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", token_count_whitespace(F.col("text")).alias("n_tokens")
    )
    packed = assign_packs(
        docs, "doc_id", "n_tokens", budget=2048, partition_cols=["lang"]
    )
    return pack_texts(packed, "text", "doc_id", ["lang"])


def _temperature_oracle() -> str:
    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"""
    WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    weights AS (SELECT lang, n,
                       CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS w
                FROM counts),
    totals AS (SELECT CAST(SUM(n) AS BIGINT) AS tot_n,
                      CAST(SUM(w) AS BIGINT) AS tot_w FROM weights),
    quotas AS (SELECT lang, least(n, (tot_n * w) // tot_w) AS quota
               FROM weights, totals),
    hashed AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
               FROM documents),
    ranked AS (SELECT doc_id, lang,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY {nibbles}, doc_id) AS rk
               FROM hashed),
    kept AS (SELECT r.doc_id, r.lang
             FROM ranked r JOIN quotas q ON r.lang = q.lang
             WHERE r.rk <= q.quota)
    SELECT k.lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(MAX(c.n) AS BIGINT) AS n_before,
           CAST(SUM(k.doc_id) AS BIGINT) AS id_sum
    FROM kept k JOIN counts c ON k.lang = c.lang
    GROUP BY k.lang
    """


@register("temperature_sample", oracle=_temperature_oracle())
def temperature_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source re-balancing
    (functions.sampling.temperature_sample, alpha = 0.5): per-language
    keep quotas ∝ sqrt(n) — the multilingual data-mixing rule that
    flattens dominant languages and keeps the tail whole — with
    membership decided by hash rank. Output = per-language (kept,
    before, id checksum), so the hash check pins BOTH the quota
    arithmetic (exact bigint after one correctly-rounded sqrt) and the
    exact membership set."""
    from ..functions.sampling import temperature_sample

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_before"))
    kept = temperature_sample(docs, "doc_id", "lang", alpha=0.5)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .join(counts, "lang")
        .select(
            "lang",
            "n_kept",
            F.col("n_before").cast("long").alias("n_before"),
            "id_sum",
        )
    )


@register(
    "blocklist_screen",
    oracle="""
    WITH toks AS (SELECT doc_id,
                         list_distinct(list_filter(string_split(text, ' '),
                                                   t -> t <> '')) AS w
                  FROM documents)
    SELECT doc_id,
           len(list_intersect(w, ['dup', 'slow', 'vector'])) > 0 AS blocked,
           CAST(len(list_intersect(w, ['dup', 'slow', 'vector'])) AS BIGINT)
               AS n_blocked
    FROM toks
    """,
)
def blocklist_screen_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style token blocklist screening
    (operators.text.blocklist_flags): per document, whether any
    whitespace token is on the blocklist and how many distinct blocked
    tokens appear — token-exact, not substring. The literal-array scale
    path (stateless projection); the DataFrame-blocklist join path is
    asserted output-identical in tests."""
    from ..operators.text import blocklist_flags

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return blocklist_flags(docs, ["dup", "slow", "vector"])


@register(
    "chunk_documents",
    oracle="""
    WITH toks AS (SELECT doc_id,
                         list_filter(string_split(text, ' '), t -> t <> '') AS t
                  FROM documents),
    nch AS (SELECT doc_id, t,
                   least(greatest(CAST(ceil((len(t) - 32) / 16.0) AS INT), 0) + 1,
                         CAST(floor((len(t) - 1) / 16) AS INT) + 1) AS nc
            FROM toks WHERE len(t) > 0),
    ch AS (SELECT doc_id, CAST(i AS INT) AS chunk_id,
                  array_to_string(t[i * 16 + 1 : i * 16 + 32], ' ') AS chunk_text
           FROM nch, UNNEST(range(0, nc)) u(i))
    SELECT doc_id, chunk_id, chunk_text,
           CAST(len(list_filter(string_split(chunk_text, ' '), x -> x <> ''))
                AS INT) AS n_tokens
    FROM ch
    """,
)
def chunk_documents_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking
    (functions.packing.chunk_documents): 32-token chunks, stride 16
    (50% overlap — the standard RAG/embedding-index prep so no span is
    cut at a boundary). Stateless transform/slice + explode, no
    shuffle; the oracle replays window arithmetic and reassembly
    exactly."""
    from ..functions.packing import chunk_documents

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    out = chunk_documents(docs, "text", "doc_id", chunk_tokens=32, stride=16)
    return out.withColumn("chunk_id", F.col("chunk_id").cast("int")).withColumn(
        "n_tokens", F.col("n_tokens").cast("int")
    )


@register(
    "text_rare_words",
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                                    t -> t <> '')) AS tok
                  FROM documents),
    freqs AS (SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok),
    total AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM freqs),
    scored AS (SELECT t.doc_id,
                      (f.freq * 1000000000) // total.total AS ppb
               FROM toks t JOIN freqs f ON t.tok = f.tok, total)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(ppb) // COUNT(*) AS BIGINT) AS mean_freq_ppb
    FROM scored GROUP BY doc_id
    """,
)
def text_rare_words_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-word-density quality signal (operators.text.
    rare_word_scores): per document, the mean corpus frequency of its
    tokens in parts-per-billion — the integer-exact stand-in for
    unigram perplexity (log-based scores aren't hash-stable across
    libms; integer divisions are). One corpus groupBy(token) feeding
    both the frequency table and the join probe."""
    from ..operators.text import rare_word_scores

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return rare_word_scores(docs, "text", "doc_id")


#: Frozen quality-classifier weights (micro-quantized bigints, order =
#: quality_model.FEATURE_COLS + intercept). Provenance: trained by
#: operators.quality_model.train_quality_classifier — pyspark.ml
#: LogisticRegression (LBFGS, maxIter=50, regParam=0.01,
#: standardization off) — on the sf0.01 documents table with proxy
#: labels quality_score >= 0.71 (the heuristic's corpus median), the
#: standard classifier-distilled-from-heuristic curation setup.
#: Distillation accuracy 0.904; re-training is deterministic
#: (test_quality_model_train_deterministic). The model ships as these
#: 6 integers exactly like the LSH plane matrices ship as literals.
FROZEN_QUALITY_WEIGHTS_V1 = [-119345, 172202, 38621, 0, -1579, -2289383]

_QM_W = FROZEN_QUALITY_WEIGHTS_V1


@register(
    "quality_model_score",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS f_tokens,
             CAST(len(list_distinct(tk)) AS BIGINT) AS f_uniq,
             CAST(COALESCE(length(text), 0) AS BIGINT) AS f_chars,
             CAST(COALESCE(length(regexp_replace(text, '[^.,!?;:]', '', 'g')), 0)
                 AS BIGINT) AS f_punct,
             CASE WHEN len(tk) > 0 THEN
               (list_aggregate(list_transform(tk, t -> length(t)), 'sum')
                * 1000) // len(tk)
             ELSE 0 END AS f_meanwl_ppk
      FROM (SELECT doc_id, text,
                   list_filter(string_split(text, ' '), x -> x <> '') AS tk
            FROM documents))
    SELECT doc_id,
           CAST(f_tokens * ({_QM_W[0]}) + f_uniq * ({_QM_W[1]})
                + f_chars * ({_QM_W[2]}) + f_punct * ({_QM_W[3]})
                + f_meanwl_ppk * ({_QM_W[4]}) + ({_QM_W[5]}) AS BIGINT)
               AS score_micro,
           (f_tokens * ({_QM_W[0]}) + f_uniq * ({_QM_W[1]})
                + f_chars * ({_QM_W[2]}) + f_punct * ({_QM_W[3]})
                + f_meanwl_ppk * ({_QM_W[4]}) + ({_QM_W[5]})) >= 0
               AS predicted
    FROM feat
    """,
)
def quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (operators.quality_model): the
    frozen distilled classifier applied to every document as a pure
    integer column expression — (doc_id, score_micro, predicted).
    score_micro is the exact micro-scaled logit; predicted is the
    keep/drop decision (logit >= 0 <=> p >= 0.5). Training is the
    separate train_quality_classifier operator (pyspark.ml LBFGS —
    iterative float optimization, tested for accuracy and determinism
    in pytest, not SQL-replayable); scoring at 100 TB is this frozen
    hash-exact scan."""
    from ..operators.quality_model import (
        quality_features,
        score_quality_classifier,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return score_quality_classifier(
        quality_features(docs), FROZEN_QUALITY_WEIGHTS_V1
    )


def _upsample_oracle() -> str:
    from ..functions.sampling import SPACE

    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    # same fractional thresholds the Spark plan embeds: floor(frac * 16^6)
    th_half = int(0.5 * SPACE)        # src0 -> 2.5 epochs
    th_third = int(0.3 * SPACE)       # src1 -> 0.3 epochs
    return f"""
    WITH v AS (SELECT doc_id, source,
                      md5(CAST(doc_id AS VARCHAR)) AS h
               FROM documents),
    reps AS (SELECT doc_id, source,
                    CASE WHEN source = 'src0'
                             THEN 2 + CASE WHEN {nibbles} < {th_half} THEN 1 ELSE 0 END
                         WHEN source = 'src1'
                             THEN CASE WHEN {nibbles} < {th_third} THEN 1 ELSE 0 END
                         WHEN source = 'src2' THEN 0
                         ELSE 1 END AS r
             FROM v)
    SELECT doc_id, source, CAST(e AS BIGINT) AS epoch
    FROM reps, UNNEST(range(1, r + 1)) t(e)
    """


@register("upsample_epochs", oracle=_upsample_oracle())
def upsample_epochs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-epoch source mixing (functions.sampling.
    upsample_epochs): src0 is seen 2.5x per epoch (every doc twice, a
    stable hash-chosen half a third time), src1 is downsampled to a
    0.3 fraction, src2 is dropped outright, every other source passes
    through once — the deterministic execution step of a data-mixing
    table, (doc_id, source, epoch) out. Stateless projection +
    explode; the fractional thresholds are integer literals embedded
    identically in the plan and the oracle."""
    from ..functions.sampling import upsample_epochs

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return upsample_epochs(
        docs, {"src0": 2.5, "src1": 0.3, "src2": 0.0}, "source", "doc_id"
    )


@register(
    "text_normalize",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(
                    translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                    'abcdefghijklmnopqrstuvwxyz'),
                    '[.,;:!?"''()\[\]{}<>@#$%^&*_+=|/~`-]+', ' ', 'g'),
                ' +', ' ', 'g')) AS norm_text,
           CAST(COALESCE(length(text), 0) AS BIGINT) AS n_chars,
           CAST(COALESCE(length(trim(regexp_replace(regexp_replace(
                    translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                    'abcdefghijklmnopqrstuvwxyz'),
                    '[.,;:!?"''()\[\]{}<>@#$%^&*_+=|/~`-]+', ' ', 'g'),
                ' +', ' ', 'g'))), 0) AS BIGINT) AS n_norm_chars
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style pre-dedup normalization (operators.text.
    normalize_text): byte-exact ASCII lowering (translate, not unicode
    case folding), enumerated-punctuation stripping, whitespace
    collapse — the canonicalization run before content hashing so
    trivial variants share a fingerprint. Stateless projection."""
    from ..operators.text import normalize_text

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return normalize_text(docs, "text", "doc_id")


@register(
    "top_quality_docs",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS f_tokens,
             CAST(len(list_distinct(tk)) AS BIGINT) AS f_uniq,
             CAST(COALESCE(length(text), 0) AS BIGINT) AS f_chars,
             CAST(COALESCE(length(regexp_replace(text, '[^.,!?;:]', '', 'g')), 0)
                 AS BIGINT) AS f_punct,
             CASE WHEN len(tk) > 0 THEN
               (list_aggregate(list_transform(tk, t -> length(t)), 'sum')
                * 1000) // len(tk)
             ELSE 0 END AS f_meanwl_ppk
      FROM (SELECT doc_id, text,
                   list_filter(string_split(text, ' '), x -> x <> '') AS tk
            FROM documents))
    SELECT doc_id,
           CAST(f_tokens * ({_QM_W[0]}) + f_uniq * ({_QM_W[1]})
                + f_chars * ({_QM_W[2]}) + f_punct * ({_QM_W[3]})
                + f_meanwl_ppk * ({_QM_W[4]}) + ({_QM_W[5]}) AS BIGINT)
               AS score_micro
    FROM feat
    ORDER BY score_micro DESC, doc_id
    LIMIT 50
    """,
)
def top_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k curation cut: the 50 highest-scoring documents
    under the frozen quality classifier, ties by doc_id. The plan is
    TakeOrderedAndProject — per-partition partial top-k merged on the
    driver, NO full sort and NO exchange of the corpus — the only
    correct shape for 'best k of 100 TB' (a global orderBy would
    range-shuffle everything to rank 50 rows)."""
    from ..operators.quality_model import (
        quality_features,
        score_quality_classifier,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    scored = score_quality_classifier(
        quality_features(docs), FROZEN_QUALITY_WEIGHTS_V1
    )
    return (
        scored.select("doc_id", "score_micro")
        .orderBy(F.col("score_micro").desc(), F.col("doc_id"))
        .limit(50)
    )


@register(
    "text_winnowing",
    oracle="""
    WITH tk AS (SELECT doc_id,
                       list_filter(string_split(text, ' '), t -> t <> '') AS tk
                FROM documents),
    h AS (SELECT doc_id,
                 list_transform(range(1, len(tk) - 2),
                   i -> ('0x' || substr(md5(array_to_string(
                            tk[CAST(i AS INT):CAST(i + 3 AS INT)], ' ')),
                            1, 15))::BIGINT) AS h
          FROM tk WHERE len(tk) >= 4),
    w AS (SELECT doc_id, CAST(j AS BIGINT) AS j,
                 h[CAST(j AS INT):CAST(j + 4 AS INT)] AS sl
          FROM h, UNNEST(range(1, len(h) - 3)) t(j)
          WHERE len(h) >= 5)
    SELECT DISTINCT doc_id,
           j + 5 - list_position(list_reverse(sl), list_min(sl)) AS pos,
           list_min(sl) AS fp
    FROM w
    """,
)
def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (operators.text.winnowing_fingerprints,
    the MOSS algorithm): 4-gram hashes, window 5, rightmost-min
    selection — every shared run of >= 8 tokens is GUARANTEED to
    produce an identical fingerprint in both documents (the positional
    guarantee MinHash lacks). Stateless array expressions + explode;
    downstream pairing is a groupBy(fp)."""
    from ..operators.text import winnowing_fingerprints

    # spread_scan: the single-file test tables scan as 1-2 input
    # splits, which starves this per-document projection of
    # parallelism (measured: a flat 3.6-3.9x DuckDB from sf0.1 to
    # sf1.0 with 2 tasks; cores-wide it drops under the bar like
    # winnowing_pairs, which always had this). A real multi-file
    # corpus scan yields >= cores partitions and needs no repartition.
    docs = spread_scan(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return winnowing_fingerprints(docs, "text", "doc_id", k=4, window=5)


@register(
    "winnowing_pairs",
    oracle="""
    WITH tk AS (SELECT doc_id,
                       list_filter(string_split(text, ' '), t -> t <> '') AS tk
                FROM documents),
    h AS (SELECT doc_id,
                 list_transform(range(1, len(tk) - 2),
                   i -> ('0x' || substr(md5(array_to_string(
                            tk[CAST(i AS INT):CAST(i + 3 AS INT)], ' ')),
                            1, 15))::BIGINT) AS h
          FROM tk WHERE len(tk) >= 4),
    w AS (SELECT doc_id, h[CAST(j AS INT):CAST(j + 4 AS INT)] AS sl
          FROM h, UNNEST(range(1, len(h) - 3)) t(j)
          WHERE len(h) >= 5),
    fps AS (SELECT DISTINCT doc_id, list_min(sl) AS fp FROM w)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def winnowing_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style similarity pairs (operators.text.winnowing_pairs):
    documents sharing >= 2 distinct winnowing fingerprints, ranked by
    the shared count — the local-match report the positional guarantee
    makes possible. One groupBy(fp) + pair-count aggregation."""
    from ..operators.text import winnowing_fingerprints, winnowing_pairs

    docs = spread_scan(load(spark, sf_dir, "documents").select("doc_id", "text"))
    fps = winnowing_fingerprints(docs, "text", "doc_id", k=4, window=5)
    return winnowing_pairs(fps.select("doc_id", "fp"), min_shared=2)


# ---- round-11 extension surface: explicit-mixture sampling, global ----
# ---- training-order shuffle, token-budget selection                ----

_MIX_WEIGHTS = {"de": 1, "en": 5, "es": 1, "fr": 1, "zh": 2}  # W = 10


def _mixture_oracle() -> str:
    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    values = " UNION ALL ".join(
        f"SELECT '{g}' AS lang, {w} AS wt" for g, w in sorted(_MIX_WEIGHTS.items())
    )
    total_w = sum(_MIX_WEIGHTS.values())
    return f"""
    WITH w AS ({values}),
    counts AS (SELECT d.lang, w.wt, COUNT(*) AS n
               FROM documents d JOIN w USING (lang) GROUP BY 1, 2),
    tgt AS (SELECT MIN((n * {total_w}) // wt) AS target FROM counts),
    quotas AS (SELECT lang, ((SELECT target FROM tgt) * wt) // {total_w} AS quota
               FROM counts),
    hashed AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
               FROM documents),
    ranked AS (SELECT doc_id, lang,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY {nibbles}, doc_id) AS rk
               FROM hashed)
    SELECT r.doc_id, r.lang
    FROM ranked r JOIN quotas q USING (lang)
    WHERE r.rk <= q.quota
    """


@register("mixture_sample_docs", oracle=_mixture_oracle())
def mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-mixture sampling (functions.sampling.mixture_sample):
    hit a caller-specified 50/20/10/10/10 language recipe exactly —
    the data-mixing step where the proportions come from the training
    plan, not from n^alpha rebalancing. Target defaults to the largest
    corpus achievable without upsampling (min over groups of
    (n_s*W) div w_s); quotas are exact bigint; membership is hash-rank
    (stable across runs/engines/cluster sizes). Plan: |groups|-row
    weight/quota relations broadcast; ONE corpus window over
    hashpartitioning(lang)."""
    from ..functions.sampling import mixture_sample

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return mixture_sample(docs, "doc_id", "lang", _MIX_WEIGHTS)


def _global_shuffle_oracle() -> str:
    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"""
    WITH hashed AS (SELECT doc_id, lang,
                           md5('42:' || CAST(doc_id AS VARCHAR)) AS h
                    FROM documents),
    valued AS (SELECT doc_id, lang, {nibbles} AS v FROM hashed)
    SELECT doc_id, lang,
           CAST(row_number() OVER (ORDER BY v, doc_id) - 1 AS BIGINT) AS ordinal
    FROM valued
    """


@register("global_shuffle_docs", oracle=_global_shuffle_oracle())
def global_shuffle_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle
    (functions.sampling.global_shuffle): every document gets a 0-based
    ordinal = rank in (md5(seed:id), id) order — the reproducible
    'shuffle the corpus before sharding to training files' permutation
    (seed 42). The oracle replays it as one global window; the engine
    plans the two-pass range-bucketed prefix sum
    (packing.global_running_total with value 1) — parallel per-bucket
    windows, offsets from the 32-row totals relation, NO
    single-partition sort or window at any corpus size."""
    from ..functions.sampling import global_shuffle

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return global_shuffle(docs, "doc_id", seed=42)


#: token budget for token_budget_pick: ~45% of the sf0.01 corpus'
#: whitespace tokens — a budget small enough that the fill boundary
#: exercises the prefix-stop semantics at every SF.
_TOKEN_BUDGET = 12_000


def _token_budget_oracle() -> str:
    w = _QM_W
    return f"""
    WITH feat AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS f_tokens,
             CAST(len(list_distinct(tk)) AS BIGINT) AS f_uniq,
             CAST(COALESCE(length(text), 0) AS BIGINT) AS f_chars,
             CAST(COALESCE(length(regexp_replace(text, '[^.,!?;:]', '', 'g')), 0)
                 AS BIGINT) AS f_punct,
             CASE WHEN len(tk) > 0 THEN
               (list_aggregate(list_transform(tk, t -> length(t)), 'sum')
                * 1000) // len(tk)
             ELSE 0 END AS f_meanwl_ppk
      FROM (SELECT doc_id, text,
                   list_filter(string_split(text, ' '), x -> x <> '') AS tk
            FROM documents)),
    scored AS (
      SELECT doc_id, f_tokens AS n_tokens,
             CAST(f_tokens * ({w[0]}) + f_uniq * ({w[1]})
                  + f_chars * ({w[2]}) + f_punct * ({w[3]})
                  + f_meanwl_ppk * ({w[4]}) + ({w[5]}) AS BIGINT) AS score_micro
      FROM feat),
    summed AS (
      SELECT doc_id, n_tokens, score_micro,
             COALESCE(SUM(n_tokens) OVER (
               ORDER BY -score_micro, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM scored)
    SELECT doc_id, n_tokens, score_micro
    FROM summed
    WHERE cum_before + n_tokens <= {_TOKEN_BUDGET}
    """


@register("token_budget_pick", oracle=_token_budget_oracle())
def token_budget_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget selection (functions.sampling.token_budget_select):
    fill a fixed token budget with the best-scoring documents first —
    score = the frozen distilled quality classifier's exact micro-logit
    (operators.quality_model), tokens = whitespace token count, prefix
    semantics (the first overflowing document stops the fill, so the
    kept set is a pure function of order + budget — SQL-replayable).
    Plan: scan-side integer scoring feeds the two-pass range-bucketed
    prefix sum over the negated score; no single-partition window, no
    driver loop."""
    from ..functions.sampling import token_budget_select
    from ..operators.quality_model import (
        quality_features as qm_features,
        score_quality_classifier,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    scored = score_quality_classifier(
        qm_features(docs), _QM_W, keep_cols=["f_tokens"]
    ).select("doc_id", F.col("f_tokens").alias("n_tokens"), "score_micro")
    picked = token_budget_select(
        scored, "doc_id", "score_micro", "n_tokens", budget=_TOKEN_BUDGET
    )
    return picked.select("doc_id", "n_tokens", "score_micro")


#: token budget for the composed selection pipeline — ~40% of the
#: mixture-stage output at sf0.01, so the fill boundary always binds.
_PIPE_BUDGET = 8_000


def _selection_pipeline_oracle() -> str:
    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    nibbles_s = " + ".join(
        f"(strpos('0123456789abcdef', substr(hs, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    values = " UNION ALL ".join(
        f"SELECT '{g}' AS lang, {w} AS wt" for g, w in sorted(_MIX_WEIGHTS.items())
    )
    total_w = sum(_MIX_WEIGHTS.values())
    w = _QM_W
    return f"""
    WITH w AS ({values}),
    counts AS (SELECT d.lang, w.wt, COUNT(*) AS n
               FROM documents d JOIN w USING (lang) GROUP BY 1, 2),
    tgt AS (SELECT MIN((n * {total_w}) // wt) AS target FROM counts),
    quotas AS (SELECT lang, ((SELECT target FROM tgt) * wt) // {total_w} AS quota
               FROM counts),
    hashed AS (SELECT doc_id, lang, text, md5(CAST(doc_id AS VARCHAR)) AS h
               FROM documents),
    ranked AS (SELECT doc_id, lang, text,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY {nibbles}, doc_id) AS rk
               FROM hashed),
    mixed AS (SELECT r.doc_id, r.lang, r.text
              FROM ranked r JOIN quotas q USING (lang)
              WHERE r.rk <= q.quota),
    feat AS (
      SELECT doc_id, lang,
             CAST(len(tk) AS BIGINT) AS f_tokens,
             CAST(len(list_distinct(tk)) AS BIGINT) AS f_uniq,
             CAST(COALESCE(length(text), 0) AS BIGINT) AS f_chars,
             CAST(COALESCE(length(regexp_replace(text, '[^.,!?;:]', '', 'g')), 0)
                 AS BIGINT) AS f_punct,
             CASE WHEN len(tk) > 0 THEN
               (list_aggregate(list_transform(tk, t -> length(t)), 'sum')
                * 1000) // len(tk)
             ELSE 0 END AS f_meanwl_ppk
      FROM (SELECT doc_id, lang, text,
                   list_filter(string_split(text, ' '), x -> x <> '') AS tk
            FROM mixed)),
    scored AS (
      SELECT doc_id, lang, f_tokens AS n_tokens,
             CAST(f_tokens * ({w[0]}) + f_uniq * ({w[1]})
                  + f_chars * ({w[2]}) + f_punct * ({w[3]})
                  + f_meanwl_ppk * ({w[4]}) + ({w[5]}) AS BIGINT) AS score_micro
      FROM feat),
    summed AS (
      SELECT doc_id, lang, n_tokens, score_micro,
             COALESCE(SUM(n_tokens) OVER (
               ORDER BY -score_micro, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM scored),
    picked AS (SELECT doc_id, lang, n_tokens, score_micro
               FROM summed WHERE cum_before + n_tokens <= {_PIPE_BUDGET}),
    shuffled AS (SELECT doc_id, lang, n_tokens, score_micro,
                        md5('7:' || CAST(doc_id AS VARCHAR)) AS hs
                 FROM picked)
    SELECT doc_id, lang, n_tokens, score_micro,
           CAST(row_number() OVER (ORDER BY {nibbles_s}, doc_id) - 1 AS BIGINT)
               AS ordinal
    FROM shuffled
    """


@register("selection_pipeline", oracle=_selection_pipeline_oracle())
def selection_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data SELECTION flow composed end to end in ONE
    declarative plan: explicit language mixture (50/20/10/10/10 recipe,
    largest achievable target) -> frozen-classifier quality scoring
    (exact micro-logit) -> token-budget fill (best-score-first prefix)
    -> deterministic global shuffle for training order. Every stage is
    exact-integer / md5-keyed, so the WHOLE pipeline replays as one
    SQL chain — the composition proof that the round-11 operators are
    pipeline pieces, not demos. Plan: one scan; the corpus-sized
    exchanges are the mixture window (hashpartitioning(lang)) and the
    two range-bucketed prefix sums; quotas/offsets relations stay
    groups/buckets-row broadcast."""
    from ..functions.sampling import (
        global_shuffle,
        mixture_sample,
        token_budget_select,
    )
    from ..operators.quality_model import (
        quality_features as qm_features,
        score_quality_classifier,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    mixed = mixture_sample(docs, "doc_id", "lang", _MIX_WEIGHTS)
    scored = score_quality_classifier(
        qm_features(mixed, "text", "doc_id", keep_cols=["lang"]),
        _QM_W,
        keep_cols=["lang", "f_tokens"],
    ).select("doc_id", "lang", F.col("f_tokens").alias("n_tokens"), "score_micro")
    picked = token_budget_select(
        scored, "doc_id", "score_micro", "n_tokens", budget=_PIPE_BUDGET
    )
    return global_shuffle(picked, "doc_id", seed=7).select(
        "doc_id", "lang", "n_tokens", "score_micro", "ordinal"
    )


def _grouped_split_oracle() -> str:
    from ..functions.sampling import SPACE

    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    t_train = int(0.8 * SPACE)
    t_val = int((0.8 + 0.1) * SPACE)
    return f"""
    WITH hashed AS (SELECT source, md5(source) AS h FROM documents),
    valued AS (SELECT source, {nibbles} AS v FROM hashed)
    SELECT CASE WHEN v < {t_train} THEN 'train'
                WHEN v < {t_val} THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources
    FROM valued GROUP BY 1
    """


@register("grouped_holdout_split", oracle=_grouped_split_oracle())
def grouped_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe holdout split (functions.sampling.grouped_split —
    r12): the split is a pure function of the SOURCE value, so no
    source ever straddles train/test — the grouped-data holdout rule
    (per-row splits of near-identical same-site documents leak train
    content into test). Stateless projection, zero shuffle beyond the
    count; hash-stable as the corpus grows."""
    from ..functions.sampling import grouped_split

    docs = load(spark, sf_dir, "documents")
    out = grouped_split(docs, "source", {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
    )


@register(
    "text_bpe_pairs",
    oracle="""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    wf AS (SELECT w, COUNT(*) AS f FROM toks WHERE w <> '' GROUP BY w),
    pairs AS (SELECT substr(w, CAST(i AS INT), 1) AS "left",
                     substr(w, CAST(i AS INT) + 1, 1) AS "right", f
              FROM wf, UNNEST(range(1, length(w))) t(i))
    SELECT "left", "right", CAST(SUM(f) AS BIGINT) AS cnt
    FROM pairs GROUP BY 1, 2
    ORDER BY cnt DESC, "left", "right" LIMIT 32
    """,
)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-induction statistic (operators.text.bpe_pair_counts —
    r12): the 32 most frequent adjacent character pairs, each word's
    pairs weighted by its corpus frequency — one BPE merge-selection
    step. Pair expansion runs over the DISTINCT-WORD relation
    (vocabulary-sized), not the corpus; the only corpus-sized exchange
    is the word-frequency rollup."""
    from ..operators.text import bpe_pair_counts

    docs = load(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, "text", top_k=32)


@register(
    "corpus_health",
    oracle="""
    SELECT COALESCE(lang, '<all>') AS lang,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT text) AS n_distinct,
           COUNT(*) - COUNT(DISTINCT text) AS n_dup_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
                AS BIGINT) AS total_tokens,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY ROLLUP (lang)
    """,
)
def corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-health dashboard: per-language and overall (ROLLUP)
    document counts, exact-duplicate counts (distinct content
    fingerprints), char/token totals and length extrema — the numbers
    every curation run reports before and after each stage.

    r13 shape (was 4.8x DuckDB at sf4.0 as a single md5-keyed rollup;
    now 1.7x — CROSSOVER.md): two branches over the same scan, joined
    on the 6-row rollup output.

    * Distinct/count branch (pure JVM): the distinct key is the 96-bit
      pair (xxhash64(text), octet_length(text)) — two cheap bigint/int
      columns instead of a 32-char md5 hex string, so the two-level
      distinct aggregate's expanded shuffle carries 12 bytes per row
      and the partials hash fixed-width ints (octet_length reads the
      stored byte length; char-counting length() decodes UTF-8). A
      same-hash-same-length collision is the only error mode (~2^-96
      per pair); the oracle counts DISTINCT raw text, so the
      hash-exact driver gate continuously proves collision-freeness.
    * Token branch (Arrow kernel): functions.textanalysis.
      grouped_token_partials counts spaces at memchr speed and returns
      per-batch per-lang partials — group-cardinality rows cross the
      Python boundary, never the corpus.

    NULL text stays out of the distinct count on both engines (the
    xxhash64 is null-guarded; COUNT DISTINCT skips nulls) and out of
    the token sum (kernel nulls it; SUM skips). Both rollups are 6
    rows, so the join is a broadcast of nothing. All columns exact
    integers, so the oracle hashes bit-for-bit."""
    from ..functions.textanalysis import grouped_token_partials

    docs = load(spark, sf_dir, "documents")
    t = F.col("text")
    n_distinct = F.countDistinct("_h", "_len")
    stats = (
        docs.select(
            "lang",
            "n_chars",
            F.when(t.isNotNull(), F.xxhash64(t)).alias("_h"),
            F.octet_length(t).alias("_len"),
        )
        .rollup("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            n_distinct.alias("n_distinct"),
            (F.count(F.lit(1)) - n_distinct).alias("n_dup_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.grouping("lang").alias("_g"),
        )
    )
    toks = (
        grouped_token_partials(docs, "lang", "text")
        .rollup("lang")
        .agg(
            F.sum("_tok").cast("long").alias("total_tokens"),
            F.grouping("lang").alias("_g"),
        )
    )
    # Join on (lang, grouping flag): eqNullSafe(lang) alone cannot tell
    # the rollup grand-total row (lang NULL, grouping=1) from a real
    # NULL-lang group row (lang NULL, grouping=0) — a corpus with NULL
    # lang would 2x2-fanout and double-count totals without the flag.
    return (
        stats.join(
            toks,
            stats["lang"].eqNullSafe(toks["lang"])
            & (stats["_g"] == toks["_g"]),
            "inner",
        )
        .drop(toks["lang"])
        .drop(stats["_g"])
        .drop(toks["_g"])
        .withColumn("lang", F.coalesce(F.col("lang"), F.lit("<all>")))
        .select(
            "lang",
            "n_docs",
            "n_distinct",
            "n_dup_docs",
            "total_chars",
            "total_tokens",
            "min_chars",
            "max_chars",
        )
    )


#: fixed tokenizer vocabulary for text_vocab_tokenize — embedded as a
#: literal on BOTH engines (the planes-literal precedent): common
#: English fragments + frequent bigrams; single chars fall back
#: implicitly, so coverage never matters for correctness
_TOKENIZER_VOCAB = (
    "the", "ing", "ion", "and", "ent", "er", "re", "at", "on", "or",
    "an", "in", "es", "is", "it", "al", "ar", "st", "nt", "en", "ed",
    "to", "of", "ou", "le", "de", "se", "co", "ra", "li", "ne", "ta",
)


def _vocab_sql_literal() -> str:
    return "[" + ", ".join(f"'{v}'" for v in _TOKENIZER_VOCAB) + "]"


@register(
    "text_vocab_tokenize",
    oracle=f"""
    WITH RECURSIVE vocab(v) AS (SELECT unnest({_vocab_sql_literal()})),
    words AS (SELECT list_filter(string_split(lower(text), ' '),
                                 w -> w <> '') AS ws
              FROM documents),
    wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f
           FROM (SELECT unnest(ws) AS w FROM words) GROUP BY w),
    seg(w, f, pos, token) AS (
        SELECT w, f, CAST(1 AS BIGINT), CAST(NULL AS VARCHAR) FROM wf
        UNION ALL
        SELECT s.w, s.f, s.pos + COALESCE(length(m.v), 1),
               COALESCE(m.v, substr(s.w, CAST(s.pos AS INT), 1))
        FROM seg s LEFT JOIN LATERAL (
            SELECT v FROM vocab
            WHERE substr(s.w, CAST(s.pos AS INT), length(v)) = v
            ORDER BY length(v) DESC LIMIT 1) m ON true
        WHERE s.pos <= length(s.w)
    )
    SELECT token, CAST(SUM(f) AS BIGINT) AS cnt
    FROM seg WHERE token IS NOT NULL
    GROUP BY token ORDER BY cnt DESC, token LIMIT 40
    """,
)
def text_vocab_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION (operators.text.greedy_tokenize_counts —
    r14): segment the lowercased corpus by WordPiece-style greedy
    longest-match against the fixed 32-entry fragment vocabulary and
    report the 40 most frequent tokens. The step AFTER
    text_bpe_pairs' merge selection: applying a trained vocabulary at
    corpus scale. The oracle replays the greedy rule exactly with a
    recursive longest-prefix-per-position CTE — segmentation is pure
    string arithmetic, so the engines agree bit-for-bit. Corpus-sized
    work is ONE word-frequency exchange; the greedy loop runs over
    the distinct-word relation (vocabulary-sized)."""
    from ..operators.text import greedy_tokenize_counts

    docs = load(spark, sf_dir, "documents").select(
        F.lower(F.col("text")).alias("text")
    )
    return greedy_tokenize_counts(
        docs, "text", vocab=_TOKENIZER_VOCAB, top_k=40
    )


@register(
    "text_vocab_token_counts",
    oracle=f"""
    WITH RECURSIVE vocab(v) AS (SELECT unnest({_vocab_sql_literal()})),
    dw AS (SELECT doc_id,
                  unnest(list_filter(string_split(lower(text), ' '),
                                     w -> w <> '')) AS w
           FROM documents),
    wd AS (SELECT DISTINCT w FROM dw),
    seg(w, pos) AS (
        SELECT w, CAST(1 AS BIGINT) FROM wd
        UNION ALL
        SELECT s.w, s.pos + COALESCE(length(m.v), 1)
        FROM seg s LEFT JOIN LATERAL (
            SELECT v FROM vocab
            WHERE substr(s.w, CAST(s.pos AS INT), length(v)) = v
            ORDER BY length(v) DESC LIMIT 1) m ON true
        WHERE s.pos <= length(s.w)
    ),
    wn AS (SELECT w, CAST(COUNT(*) - 1 AS BIGINT) AS ntok
           FROM seg GROUP BY w),
    per_doc AS (SELECT dw.doc_id, SUM(wn.ntok) AS n
                FROM dw JOIN wn USING (w) GROUP BY dw.doc_id)
    SELECT d.doc_id, CAST(COALESCE(per_doc.n, 0) AS BIGINT) AS n_tokens
    FROM documents d LEFT JOIN per_doc ON per_doc.doc_id = d.doc_id
    """,
)
def text_vocab_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the APPLIED vocabulary
    (operators.text.greedy_token_counts_per_doc — r14): the
    budget/packing input computed with the greedy tokenizer instead of
    the whitespace proxy. Zero shuffle — a stateless Arrow projection
    with per-worker word memoization; the oracle re-derives each
    distinct word's segment count with the recursive longest-prefix
    CTE and sums it back over the document words."""
    from ..operators.text import greedy_token_counts_per_doc

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("text")
    )
    return greedy_token_counts_per_doc(
        docs, "text", "doc_id", vocab=_TOKENIZER_VOCAB
    )

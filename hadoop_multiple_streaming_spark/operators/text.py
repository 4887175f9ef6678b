"""Text analysis for training-data pipelines (north-star extension;
not in the reference — its users would run these as mapper scripts,
P1; here they are native columnar expressions).

All functions are pure pyspark.sql.functions expressions — JVM-side,
whole-stage-codegen, no Python in the hot path — and every heuristic is
deliberately expressible in ANSI SQL so the DuckDB oracle can verify it
exactly.

Tokenization contract (shared by everything here and the oracles):
words = text split on single spaces, empties dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: small deterministic English stopword list (shared with oracle SQL)
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "this", "be", "are",
]

#: BPE-ish token regex: word pieces OR single non-space punctuation
TOKEN_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def words(text: Column | str) -> Column:
    # array_remove instead of a filter() higher-order function: the
    # HOF lambda evaluates INTERPRETED per element outside whole-stage
    # codegen — measured 2.3x slower on the exploded shape and 1.26x
    # on the array shape at sf8.0 (CROSSOVER.md r13); identical output
    col = F.col(text) if isinstance(text, str) else text
    return F.array_remove(F.split(col, " "), "")


def normalize_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style text normalization — the canonicalization every real
    pipeline runs BEFORE hashing/dedup so trivial variants (case,
    punctuation, spacing) collapse onto one fingerprint: lowercase,
    replace every non-alphanumeric run with one space, collapse
    whitespace, trim. Returns (id_col, norm_text, n_chars, n_norm_chars)
    so the shrinkage is observable. Feed ``norm_text`` to
    exact_dedup / word_shingles / duplicate_spans for
    normalization-invariant matching.

    Determinism contract: ASCII-scope rules ONLY — lowering via
    translate(A-Z -> a-z) (byte-exact in every engine; .lower()'s
    unicode case-folding tables can differ by ICU/utf8proc version)
    and an ENUMERATED ASCII punctuation class (identical in Java regex
    and RE2). Unicode letters pass through untouched, so multilingual
    text keeps its content and only spacing/case/punctuation
    canonicalize. Stateless projection — scan speed at 100 TB, no
    shuffle."""
    t = F.col(text_col)
    upper = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    punct = r"""[.,;:!?"'()\[\]{}<>@#$%^&*_+=|/~`-]+"""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.translate(t, upper, upper.lower()), punct, " "
            ),
            r" +",
            " ",
        )
    )
    return df.select(
        F.col(id_col),
        norm.alias("norm_text"),
        F.coalesce(F.length(t), F.lit(0)).cast("long").alias("n_chars"),
        F.coalesce(F.length(norm), F.lit(0)).cast("long").alias("n_norm_chars"),
    )


def quantize4(x: Column) -> Column:
    """4-decimal quantization via floor(x*1e4)/1e4 — NOT round(): both
    engines do the same IEEE multiply then an exact floor, so results
    are bit-identical cross-engine. round() diverges on ties (Spark
    rounds the exact decimal expansion HALF_UP, DuckDB rounds the
    scaled double) — measured 5-in-500 mismatches on real text."""
    return F.floor(x * F.lit(10000.0)) / F.lit(10000.0)


def token_count_whitespace(text: Column | str) -> Column:
    return F.size(words(text))


def token_count_bpe(text: Column | str) -> Column:
    """Sub-word-ish token count: alpha runs + digit runs + punctuation
    singles (a cheap proxy for BPE token budgeting)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_REGEX), 0))


def stopword_ratio(text: Column | str) -> Column:
    w = words(text)
    stops = F.size(F.filter(w, lambda x: x.isin(EN_STOPWORDS)))
    return F.when(F.size(w) > 0, stops / F.size(w)).otherwise(F.lit(0.0))


def unique_word_ratio(text: Column | str) -> Column:
    w = words(text)
    return F.when(F.size(w) > 0, F.size(F.array_distinct(w)) / F.size(w)).otherwise(F.lit(0.0))


def mean_word_length(text: Column | str) -> Column:
    w = words(text)
    total = F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(w) > 0, total / F.size(w)).otherwise(F.lit(0.0))


def punct_ratio(text: Column | str) -> Column:
    col = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(F.regexp_replace(col, r"[a-zA-Z0-9\s]", ""))
    return F.when(F.length(col) > 0, n_punct / F.length(col)).otherwise(F.lit(0.0))


def lang_id(text: Column | str) -> Column:
    """N-gram-heuristic language ID: English-stopword density. The
    honest contract at this container's dependency budget: 'en' when
    the text is stopword-dense English-like, else 'unknown'. Real
    deployments swap in a fastText/CLD3 pandas UDF — the column
    contract (string label) stays the same."""
    ratio = stopword_ratio(text)
    return F.when(ratio >= F.lit(0.05), F.lit("en")).otherwise(F.lit("unknown"))


def quality_score(text: Column | str) -> Column:
    """Composite quality in [0,1]: length band + lexical diversity +
    not-too-much-punctuation + sane mean word length. Weights are
    fixed so the score is reproducible (and oracle-checkable)."""
    col = F.col(text) if isinstance(text, str) else text
    n = token_count_whitespace(col)
    len_component = F.least(n / F.lit(100.0), F.lit(1.0))
    diversity = unique_word_ratio(col)
    punct_penalty = F.lit(1.0) - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    mwl = mean_word_length(col)
    wordlen_component = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    score = (
        len_component * 0.3
        + diversity * 0.3
        + punct_penalty * 0.2
        + wordlen_component * 0.2
    )
    return quantize4(score)


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: word-level polynomial
    rolling hash, each word valued by its own char-level rolling hash.
    Pure integer arithmetic (mod 2^31-1) so any engine reproduces it
    bit-for-bit — the cross-engine-stable alternative to murmur."""
    w = words(text)
    word_val = lambda x: F.aggregate(  # noqa: E731
        F.split(x, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % F.lit(2147483647).cast("long"),
    )
    return F.aggregate(
        w,
        F.lit(7).cast("long"),
        lambda acc, x: (acc * 1000003 + word_val(x)) % F.lit(2147483647).cast("long"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    window: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (public method: Schleimer,
    Wilkerson & Aiken 2003 — the MOSS local fingerprinting algorithm):
    hash every word k-gram, slide a window of ``window`` consecutive
    hashes, record the MINIMUM of each window at its position
    (rightmost occurrence on ties — "robust winnowing", which
    minimizes fingerprint churn under edits). Guarantee: any shared
    substring of at least k + window - 1 tokens yields at least one
    IDENTICAL (hash) fingerprint in both documents — the positional,
    locality-guaranteed alternative to MinHash (which has no
    per-match guarantee, only set-similarity statistics).

    Returns (id_col, pos, fp): 1-based token position of each selected
    k-gram and its 60-bit hash, DISTINCT per document (adjacent
    windows usually re-select the same minimum — that dedup is the
    compression winnowing exists for). Docs with fewer than
    k + window - 1 tokens produce no fingerprints.

    Determinism: hash = first 15 md5 hex digits of the k-gram as a
    bigint (portable); min/rightmost-tie arithmetic is exact integer.
    Scale shape: stateless per-document array expressions + one
    explode — scan speed; pair-finding is then a groupBy(fp) over the
    fingerprint stream (duplicate_spans-style), never all-pairs."""
    if k < 1 or window < 1:
        raise ValueError(
            f"winnowing_fingerprints: k and window must be >= 1, "
            f"got k={k} window={window}"
        )
    toks = df.select(
        F.col(id_col),
        F.expr(f"array_remove(split({text_col}, ' '), '')").alias("_tk"),
    )
    # 60-bit k-gram hashes (15 hex digits < 2^60: exact in bigint)
    hashes = F.when(
        F.size("_tk") >= k,
        F.expr(
            f"transform(sequence(1, size(_tk) - {k - 1}), "
            f"i -> conv(substring(md5(array_join(slice(_tk, i, {k}), ' ')), 1, 15), "
            "16, 10))"
        ).cast("array<long>"),
    ).otherwise(F.expr("array()").cast("array<long>"))
    w = int(window)
    # per window j: fp = min(H[j..j+w-1]); pos = rightmost index of fp
    # (reverse + first-position arithmetic: pos = j + w - rpos)
    wins = F.when(
        F.size("_h") >= w,
        F.expr(
            f"array_distinct(transform(sequence(1, size(_h) - {w - 1}), "
            f"j -> named_struct("
            f"'pos', j + {w}L - array_position(reverse(slice(_h, j, {w})), "
            f"array_min(slice(_h, j, {w}))), "
            f"'fp', array_min(slice(_h, j, {w})))))"
        ),
    ).otherwise(
        F.expr("array()").cast("array<struct<pos:bigint,fp:bigint>>")
    )
    return (
        toks.select(F.col(id_col), hashes.alias("_h"))
        .select(F.col(id_col), F.explode(wins).alias("_w"))
        .select(F.col(id_col), F.col("_w.pos").alias("pos"), F.col("_w.fp").alias("fp"))
    )


def winnowing_pairs(
    fingerprints: DataFrame, min_shared: int = 2, max_bucket_size: int | None = None
) -> DataFrame:
    """Document pairs from winnowing fingerprints — the MOSS
    similarity report: (id_a, id_b, n_shared) for every pair sharing
    at least ``min_shared`` distinct fingerprint VALUES. Because of
    the winnowing guarantee, any pair sharing a run of >= k+window-1
    tokens appears here; n_shared grows with the amount of shared
    text, so rank by it.

    Scale shape: ONE groupBy(fp) over the fingerprint stream, in-
    bucket pair expansion (each fp names the documents containing it
    — typically 1-2 at web scale), then a pair-count aggregation.
    ``max_bucket_size`` skips ubiquitous fingerprints (boilerplate
    that slipped past normalization — a bucket of m docs expands
    m(m-1)/2 pairs), the same viral-bucket guard as LSH."""
    buckets = (
        fingerprints.select(F.col(fingerprints.columns[0]).alias("id"), "fp")
        .distinct()
        .groupBy("fp")
        .agg(F.expr("array_sort(collect_list(id))").alias("ids"))
    )
    keep = F.size("ids") >= 2
    if max_bucket_size is not None:
        keep = keep & (F.size("ids") <= max_bucket_size)
    pairs = (
        buckets.where(keep)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), y -> struct(x, y))))"
                )
            ).alias("p")
        )
        .select(F.col("p.x").alias("id_a"), F.col("p.y").alias("id_b"))
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def text_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass per-document profile (single projection, no shuffle)."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        token_count_whitespace(t).alias("n_tokens"),
        token_count_bpe(t).alias("n_bpe_tokens"),
        quantize4(stopword_ratio(t)).alias("stopword_ratio"),
        quantize4(unique_word_ratio(t)).alias("unique_ratio"),
        quantize4(mean_word_length(t)).alias("mean_word_len"),
        lang_id(t).alias("lang_guess"),
        quality_score(t).alias("quality"),
        fingerprint(t).alias("fingerprint"),
    )


def remove_frequent_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    segment_tokens: int = 20,
    max_doc_freq: int = 100,
) -> DataFrame:
    """Corpus-level boilerplate removal (the CCNet/RefinedWeb paragraph
    dedup step): segment every document into fixed ``segment_tokens``
    word windows, count each segment's DISTINCT-document frequency
    across the whole corpus, and drop segments appearing in more than
    ``max_doc_freq`` documents (site chrome, nav bars, license
    footers). Returns (id, clean_text, n_dropped) where clean_text is
    the kept segments rejoined in position order (NULL when everything
    was boilerplate).

    Scale shape: segment explode (no shuffle) -> groupBy(segment)
    frequency count (the one corpus-sized exchange, map-side combined)
    -> join back on segment (same partitioning rides the exchange) ->
    groupBy(id) reassembly. The per-doc collect is bounded by the
    document's own segment count. The segment relation feeds both the
    frequency aggregate and the join probe; AQE's runtime exchange
    reuse computes it once (verified pattern — see ngram_jaccard_pairs
    and DEPLOY.md)."""
    if segment_tokens < 1:
        raise ValueError(
            f"remove_frequent_segments: segment_tokens must be >= 1, "
            f"got {segment_tokens}"
        )
    k = int(segment_tokens)
    toks = F.expr(f"array_remove(split({text_col}, ' '), '')")
    chunks = F.when(
        F.size(F.col("_tk")) > 0,
        F.expr(
            f"transform(sequence(0, cast(ceil(size(_tk) / {k}.0) as int) - 1), "
            f"i -> array_join(slice(_tk, i * {k} + 1, {k}), ' '))"
        ),
    ).otherwise(F.expr("array()"))
    segs = (
        df.select(F.col(id_col), toks.alias("_tk"))
        .select(F.col(id_col), F.posexplode(chunks).alias("pos", "seg"))
    )
    freq = segs.groupBy("seg").agg(
        F.countDistinct(F.col(id_col)).alias("seg_df")
    )
    joined = segs.join(freq, "seg")
    kept_struct = F.when(
        F.col("seg_df") <= max_doc_freq, F.struct("pos", "seg")
    )  # NULL structs vanish from collect_list -> only kept segments
    return joined.groupBy(F.col(id_col)).agg(
        F.nullif(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.getField("seg"),
                ),
                " ",
            ),
            F.lit(""),
        ).alias("clean_text"),
        F.count_if(F.col("seg_df") > max_doc_freq).alias("n_dropped"),
    )


#: PII span patterns, ordered: redaction applies them in sequence, so
#: earlier kinds must not leave text a later pattern could re-match in
#: a surprising way (emails first — their domains could otherwise feed
#: the looser patterns). RE2-safe subset (no lookaround/backrefs) so
#: Java-regex Spark and RE2-based engines agree character-for-character.
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+\d{9,15}"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
]


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """PII redaction — the standard pre-training scrub (emails, phone
    numbers, IPv4 addresses replaced with |||KIND||| placeholder
    tokens, Dolma-style) plus per-kind match counts for curation
    stats. Shuffle-free single projection. Counts are defined as
    "matches of each pattern in the ORIGINAL text" — NOT "placeholders
    emitted": replacement applies the patterns in sequence, so a span
    consumed by an earlier kind (e.g. the `1.2.3.4` inside
    `1.2.3.4@example.com`, eaten by the email rule) still counts for
    the later kind even though no later placeholder appears. Both the
    engine and the oracle compute counts this way, so cross-engine
    parity holds by construction. Uses the pyspark function API (not
    expr) so the regexes never pass through a SQL string literal and
    need no double-escaping."""
    t = F.col(text_col)
    redacted = t
    counts = []
    for kind, pat in PII_PATTERNS:
        # idx=0 = the whole match (the SQL default idx=1 means "first
        # capture group" and errors on group-free patterns)
        counts.append(
            F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))).alias(f"n_{kind}")
        )
        redacted = F.regexp_replace(redacted, pat, f"|||{kind.upper()}|||")
    passthrough = [F.col(c) for c in (keep_cols or [])]
    return df.select(
        F.col(id_col), *passthrough, redacted.alias("redacted"), *counts
    )


def duplicate_ngram_ratios(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple = (2, 3),
    max_tokens: int = 2000,
) -> DataFrame:
    """Within-document repetition signals (the RefinedWeb/Gopher
    'duplicate n-gram fraction' quality rules): per document, the
    fraction of word n-gram occurrences that repeat an earlier
    occurrence — boilerplate, keyword stuffing and degenerate
    generations score high and get filtered before training.

    Pure column expressions over one projection (no explode, no
    shuffle, no per-row Python): the n-gram array is built once per n
    via transform/slice, the ratio is 1 - distinct/total. Quantized to
    4 decimals with the cross-engine-stable floor (see quantize4).

    All signals are computed over the first ``max_tokens`` tokens: the
    top-share count below is O(distinct x total) per document, and one
    degenerate 100k-token crawl page would otherwise stall its whole
    task — exactly the document class this filter exists to catch, and
    2000 tokens of evidence classify it just as well."""
    toks = df.select(
        F.col(id_col),
        F.slice(words(F.col(text_col)), 1, max_tokens).alias("_toks"),
    )
    out = toks
    for n in ns:
        sh = F.when(
            F.size("_toks") >= n,
            F.expr(
                f"transform(sequence(1, size(_toks) - {n - 1}), "
                f"i -> array_join(slice(_toks, i, {n}), ' '))"
            ),
        ).otherwise(F.array().cast("array<string>"))
        out = out.withColumn(f"_sh{n}", sh).withColumn(
            f"dup_{n}gram_ratio",
            quantize4(
                F.when(
                    F.size(f"_sh{n}") > 0,
                    (F.size(f"_sh{n}") - F.size(F.array_distinct(f"_sh{n}")))
                    / F.size(f"_sh{n}"),
                ).otherwise(F.lit(0.0))
            ),
        ).withColumn(
            # most-frequent n-gram's share of all n-gram occurrences
            # (the other Gopher repetition rule). distinct x filter is
            # O(distinct * total) per document — bounded by document
            # length; production sweeps cap tokens first (slice the
            # array) or sample. A single fold would be O(n) but
            # multi-field struct folds mis-evaluate in some engines,
            # and the oracle must replay this math exactly.
            f"top_{n}gram_share",
            quantize4(
                F.when(
                    F.size(f"_sh{n}") > 0,
                    F.array_max(
                        F.expr(
                            f"transform(array_distinct(_sh{n}), "
                            f"d -> size(filter(_sh{n}, e -> e = d)))"
                        )
                    ).cast("double")
                    / F.size(f"_sh{n}"),
                ).otherwise(F.lit(0.0))
            ),
        )
    return out.select(
        id_col,
        *[c for n in ns for c in (f"dup_{n}gram_ratio", f"top_{n}gram_share")],
    )


def blocklist_flags(
    df: DataFrame,
    blocklist,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style token blocklist screening ("bad words" filtering): per
    document, whether ANY whitespace token is on the blocklist plus the
    count of DISTINCT blocked tokens present -> (id_col, blocked,
    n_blocked). Token-exact matching, not substring (the classic
    Scunthorpe false positive).

    Two scale paths:
      * ``blocklist`` as a Python list (the usual few-hundred-entry
        word list): one literal array, ``array_intersect`` per row —
        stateless projection, no shuffle, scan speed at 100 TB.
      * ``blocklist`` as a single-column DataFrame (URL/domain lists
        reaching millions of entries, where a literal would bloat the
        plan): tokens explode and LEFT JOIN the (broadcastable) list,
        then re-aggregate per document — one exchange over the token
        stream.
    Both paths produce identical output."""
    if isinstance(blocklist, DataFrame):
        bl_col = blocklist.columns[0]
        toks = df.select(
            F.col(id_col),
            F.explode_outer(F.array_distinct(words(F.col(text_col)))).alias("_tok"),
        )
        hits = toks.join(
            F.broadcast(blocklist.select(F.col(bl_col).alias("_tok")).distinct()),
            "_tok",
            "left_semi",
        )
        counts = hits.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_blocked"))
        return (
            df.select(id_col)
            .join(counts, id_col, "left")
            .select(
                id_col,
                F.coalesce(F.col("n_blocked") > 0, F.lit(False)).alias("blocked"),
                F.coalesce(F.col("n_blocked"), F.lit(0)).cast("long").alias("n_blocked"),
            )
        )
    lit_list = F.array(*[F.lit(str(w)) for w in blocklist])
    inter = F.array_intersect(F.array_distinct(words(F.col(text_col))), lit_list)
    # coalesce: NULL text must yield (false, 0) exactly like the
    # DataFrame path's explode_outer + coalesce, not NULL flags
    n_hits = F.coalesce(F.size(inter), F.lit(0))
    return df.select(
        F.col(id_col),
        (n_hits > 0).alias("blocked"),
        n_hits.cast("long").alias("n_blocked"),
    )


def rare_word_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-frequency quality signal (the integer-exact stand-in for
    unigram-LM perplexity): per document, the mean corpus frequency of
    its tokens -> (id_col, n_tokens, mean_freq_ppb). Documents of rare
    tokens score LOW (specialist/noisy text), stopword soup scores
    HIGH — the rare-word-density filter corpus curation runs next to
    quality_score.

    Exactness contract: token frequencies are corpus counts (exact
    bigints); each token contributes floor(freq * 1e9 / total_tokens)
    (integer div — parts-per-billion, exact in any engine), the
    per-doc mean is another integer div. No floats anywhere, so the
    score is hash-exact cross-engine — unlike a log-based perplexity,
    whose libm last-ulp differences can flip a rounding boundary.

    Scale shape: one corpus-wide groupBy(token) count (map-side
    combined), re-joined to the exploded token stream on the same key
    (the exchange feeds both sides -> runtime ReusedExchange, same
    pattern as remove_frequent_segments), then a per-doc aggregation.
    """
    toks = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("_tok")
    )
    freqs = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_freq"))
    total = freqs.agg(F.sum("_freq").alias("_total"))
    scored = (
        toks.join(freqs, "_tok")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.expr("(_freq * 1000000000L) div _total").alias("_ppb"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.expr("sum(_ppb) div count(1)").alias("mean_freq_ppb"),
    )


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus word-frequency relation (w, f) — text split on single
    spaces, empty tokens dropped. The corpus-sized rollup every
    vocabulary-shaped operator starts from.

    A pyarrow split_pattern + value_counts kernel pre-aggregates per
    batch, so only batch-vocabulary-sized (w, f) partials cross the
    Python boundary and the one exchange carries partial counts
    (1.63 s at sf8.0, against 2.58 s for explode(split) + codegen'd
    ``WHERE w <> ''`` — CROSSOVER.md r13)."""

    def wc_partials(it):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        for pdf in it:
            # explicit type: all-null batches infer arrow 'null'
            arr = pa.Array.from_pandas(pdf[text_col], type=pa.string())
            toks = pc.drop_null(pc.list_flatten(pc.split_pattern(arr, " ")))
            vc = toks.value_counts()
            out = pd.DataFrame(
                {
                    "w": vc.field("values").to_pandas(),
                    "f": vc.field("counts").to_pandas(),
                }
            )
            yield out[out["w"] != ""]

    part = df.select(text_col).mapInPandas(wc_partials, "w string, f long")
    return part.groupBy("w").agg(F.sum("f").alias("f"))


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_k: int | None = None,
) -> DataFrame:
    """One BPE merge-selection step at corpus scale (Sennrich et al.
    2016): count adjacent character pairs over the corpus, weighting
    each word's internal pairs by the word's corpus frequency — the
    statistic a tokenizer trainer computes to pick its next merge.
    Returns (left, right, cnt); with ``top_k``, the k most frequent
    pairs (ties broken by (left, right) so the cut is deterministic).

    Scale shape: the ONLY corpus-sized exchange is the groupBy(word)
    frequency count (map-side combined). Pair expansion then runs over
    the DISTINCT-WORD relation — vocabulary-sized, not corpus-sized —
    so a 100 TB corpus with a 10M-word vocabulary explodes ~100M pair
    rows instead of ~100T: the word-frequency rollup is what makes
    tokenizer training tractable at scale, and it falls out of the
    plan for free. The final pair aggregate is alphabet^2-sized. With
    top_k the cut is a TakeOrderedAndProject (no global sort).
    """
    wf = word_frequencies(df, text_col)
    # char pairs of each distinct word; sequence() counts DOWN when
    # start > stop, so 1-char words need the explicit empty array
    pairs = wf.select(
        "f",
        F.explode(
            F.expr(
                "case when length(w) >= 2 then "
                "transform(sequence(1, length(w) - 1), "
                "i -> struct(substring(w, i, 1) as l, "
                "substring(w, i + 1, 1) as r)) "
                "else array() end"
            )
        ).alias("p"),
    )
    counts = pairs.groupBy(
        F.col("p.l").alias("left"), F.col("p.r").alias("right")
    ).agg(F.sum("f").alias("cnt"))
    if top_k is None:
        return counts
    return counts.orderBy(F.desc("cnt"), "left", "right").limit(int(top_k))


def greedy_tokenize_counts(
    df: DataFrame,
    text_col: str = "text",
    vocab: tuple[str, ...] | list[str] = (),
    top_k: int | None = None,
) -> DataFrame:
    """Tokenizer APPLICATION — the step after bpe_pair_counts' merge
    selection: segment every word by WordPiece-style GREEDY
    LONGEST-MATCH against a fixed ``vocab`` (at each position, the
    longest vocabulary entry matching there wins; no match falls back
    to the single character), and return corpus token counts
    (token, cnt). With ``top_k``, the k most frequent (ties broken by
    token, deterministic cut). Deterministic by construction — greedy
    segmentation is a pure function of (word, vocab), exact string
    ops only — so a SQL engine replays it bit-for-bit via a recursive
    longest-prefix CTE (see the text_vocab_tokenize workload oracle).

    The greedy rule compiles to ONE regex: alternation ordered
    longest-first — Python's re takes the FIRST alternative matching
    at the current position, and among equal lengths at most one
    distinct string can match, so longest-first order IS greedy
    longest-match; findall consumes non-overlapping left-to-right,
    exactly the per-position loop (pinned against a loop reference in
    pytest). The trailing '.' (DOTALL: words may carry any non-space
    byte) is the single-char fallback. One C-level pass per word vs
    len(w) x |vocab_lens| dict probes — measured 1.5x on the kernel.

    Split + per-batch word value_counts + segmentation run in ONE
    Arrow kernel emitting (token, f) partials — token counts are
    additive over per-batch word counts, so the plan has ONE Python
    fence and ONE exchange (on token, vocab-sized partials). Per-batch
    word dedup bounds the greedy work at the batch vocabulary (the
    same trade word_frequencies makes). Final aggregate is vocab-sized;
    with top_k the cut is a TakeOrderedAndProject.

    Text is segmented AS-IS: case-normalize upstream if the vocab is
    lowercase (the workload does ``lower(text)`` on both engines)."""
    if not vocab:
        raise ValueError("greedy_tokenize_counts: vocab must be non-empty")
    vocab_set = frozenset(vocab)
    if not any(v for v in vocab_set):
        raise ValueError("greedy_tokenize_counts: vocab entries are empty")
    import re as _re

    ordered = sorted(vocab_set, key=lambda v: (-len(v), v))
    pat_src = "|".join(_re.escape(v) for v in ordered if v) + "|."

    def fused_partials(it):
        import re

        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        pat = re.compile(pat_src, re.DOTALL)
        for pdf in it:
            # explicit type: all-null batches infer arrow 'null'
            arr = pa.Array.from_pandas(pdf[text_col], type=pa.string())
            toks = pc.drop_null(pc.list_flatten(pc.split_pattern(arr, " ")))
            vc = toks.value_counts()
            agg: dict = {}
            for w, f in zip(
                vc.field("values").to_pylist(), vc.field("counts").to_pylist()
            ):
                if w != "":
                    for tok in pat.findall(w):
                        agg[tok] = agg.get(tok, 0) + f
            yield pd.DataFrame({"token": list(agg.keys()), "f": list(agg.values())})

    toks = df.select(text_col).mapInPandas(fused_partials, "token string, f long")
    counts = toks.groupBy("token").agg(F.sum("f").alias("cnt"))
    if top_k is None:
        return counts
    return counts.orderBy(F.desc("cnt"), "token").limit(int(top_k))


def greedy_token_counts_per_doc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Per-DOCUMENT token counts under greedy vocab segmentation —
    the budget/packing input (token_budget_pick, pack_sequences)
    computed with an APPLIED tokenizer instead of the whitespace
    proxy: (id_col, n_tokens) where n_tokens = number of greedy
    longest-match segments over the document's space-split words
    (same rule as :func:`greedy_tokenize_counts`; NULL text counts 0).

    Scale shape: a STATELESS Arrow projection — zero shuffle, scan
    speed. Within each batch the kernel segments each DISTINCT word
    once (a memo dict persists across the worker's batches, BOUNDED at
    ``_MEMO_CAP`` entries), so the per-row work is a dict probe per
    word; segmentation itself is the compiled longest-first regex (one
    findall per new word, counting only — re.findall allocation
    avoided via finditer-free len(findall) on the memo miss path
    only).

    Memo bound (ADVICE r14 #3): long-lived reused Python workers would
    otherwise grow the cross-batch memo monotonically on a
    high-distinct-word corpus (the 100 TB shape) and OOM the executor.
    At the cap the memo is cleared and rebuilt — trade: the first
    occurrence of each word after a reset re-segments (one regex
    findall), which is exactly the cold-batch cost; hit rates recover
    within a batch because natural text reuses words heavily."""
    if not vocab:
        raise ValueError(
            "greedy_token_counts_per_doc: vocab must be non-empty"
        )
    vocab_set = frozenset(vocab)
    if not any(v for v in vocab_set):
        raise ValueError(
            "greedy_token_counts_per_doc: vocab entries are empty"
        )
    import re as _re

    ordered = sorted(vocab_set, key=lambda v: (-len(v), v))
    pat_src = "|".join(_re.escape(v) for v in ordered if v) + "|."
    id_field = df.schema[id_col]

    def count_partials(it):
        import re

        import pandas as pd

        pat = re.compile(pat_src, re.DOTALL)
        # bounded cross-batch memo: ~100 bytes/entry -> cap keeps the
        # worker's steady-state overhead at ~200 MB worst case
        _MEMO_CAP = 2_000_000
        memo: dict = {}
        for pdf in it:
            out = []
            for t in pdf[text_col]:
                if t is None:
                    out.append(0)
                    continue
                n = 0
                for w in t.split(" "):
                    if not w:
                        continue
                    c = memo.get(w)
                    if c is None:
                        if len(memo) >= _MEMO_CAP:
                            memo.clear()
                        c = len(pat.findall(w))
                        memo[w] = c
                    n += c
                out.append(n)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "n_tokens": pd.Series(out, dtype="int64")}
            )

    out_schema = T.StructType(
        [id_field, T.StructField("n_tokens", T.LongType())]
    )
    return df.select(id_col, text_col).mapInPandas(
        count_partials, out_schema
    )

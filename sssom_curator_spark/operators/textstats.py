"""Text-analysis operators for web corpora: language-ID, quality scoring,
token counting, document fingerprinting.

All four are pure column expressions (whole-stage codegen, ANSI-SQL
expressible for the DuckDB oracle) — the profile tables are literal maps,
never joins. They feed the KG pipeline's filtering stage (only
good-quality, right-language pages reach mention detection).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sssom_curator_spark import fan_out

#: Epsilon added before rounding: ratios of small integers frequently land
#: exactly on a half-boundary (e.g. 0.48425), where Spark (exact-binary
#: HALF_UP) and other engines (shortest-repr rounding) disagree. A +1e-9
#: shift makes the rounding decision identical everywhere; the DuckDB
#: oracles apply the same shift.
ROUND_EPS = 1e-9


def stable_round(col, scale: int):
    return F.round(col + ROUND_EPS, scale)


__all__ = [
    "stable_round",
    "norm_words",
    "token_count",
    "quality_features",
    "quality_score",
    "langid_heuristic",
    "doc_fingerprint",
    "repetition_stats",
    "vocab_stats",
    "bpe_pair_counts",
    "bpe_train",
    "bpe_encode",
    "tfidf_topk",
    "unigram_logprob_score",
    "bigram_pmi",
    "zipf_fit",
]

#: Tiny per-language function-word profiles (deterministic heuristic).
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "los", "por"],
    "fr": ["le", "la", "de", "et", "un", "est", "pour", "que", "dans", "les"],
}

#: BPE-ish token pattern: words, numbers, or single non-space symbols —
#: what a byte-pair tokenizer's pre-tokenizer typically splits on.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(col: Column | str, *, pattern: str = TOKEN_PATTERN) -> Column:
    """Token count under the BPE-ish pre-tokenization regex."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))


def _words(col: Column) -> Column:
    return F.split(F.trim(F.lower(col)), r"\s+")


def norm_words(col: Column) -> Column:
    """THE shared word tokenizer of the corpus-hygiene family: lowercase,
    trim, split on whitespace runs, drop empties. ``repetition_stats``
    and :mod:`sssom_curator_spark.operators.decontam` both key their
    DuckDB oracles on this exact rule — change it in one place only."""
    return F.filter(_words(F.coalesce(col, F.lit(""))), lambda w: w != "")


def quality_features(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio features per document.

    ``n_words`` counts NON-EMPTY words (``norm_words``): Spark's split of
    an empty string yields ``['']``, which would score empty/whitespace
    documents as one-word documents and dead-code the zero guards.
    ``mean_word_len`` divides the NON-WHITESPACE char count by the word
    count, so newline/indentation-heavy pages (routine in web text) do
    not inflate it. ``punct_ratio`` counts ``[^\\w\\s]`` with the
    JVM's ASCII ``\\w`` — a documented contract shared bit-for-bit with
    the RE2-based oracle; non-ASCII letters count as punctuation, so
    tune the downstream punct gate per corpus before applying it to
    non-ASCII languages."""
    c = F.col(text_col)
    words = norm_words(c)
    n_words = F.size(words)
    stop = F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop, w)))
    n_chars = F.length(F.coalesce(c, F.lit("")))
    n_wchars = F.length(F.regexp_replace(F.coalesce(c, F.lit("")), r"\s+", ""))
    # count = length delta under single-char-pattern removal — identical
    # to size(regexp_extract_all) (every match is exactly one char, and
    # the DuckDB oracle's len(regexp_extract_all) agrees) without
    # materializing a match array per document
    n_punct = n_chars - F.length(F.regexp_replace(F.coalesce(c, F.lit("")), r"[^\w\s]", ""))
    return df.withColumns(
        {
            "n_chars_q": n_chars,
            "n_words": n_words,
            "mean_word_len": stable_round(
                F.when(n_words > 0, n_wchars / n_words).otherwise(F.lit(0.0)), 4
            ),
            "punct_ratio": stable_round(
                F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)), 4
            ),
            "stopword_ratio": stable_round(
                F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0)), 4
            ),
        }
    )


def quality_score(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Scalar quality score in [0,1]: penalize too-short docs, punctuation
    soup, and stopword-free keyword stuffing. Deterministic, monotone in
    each feature — a Gopher-rules-style filter reduced to three signals."""
    feats = quality_features(df, text_col=text_col)
    length_term = F.least(F.col("n_words") / 50.0, F.lit(1.0))
    punct_term = F.greatest(F.lit(0.0), F.lit(1.0) - F.col("punct_ratio") * 4)
    stop_term = F.least(F.col("stopword_ratio") * 3, F.lit(1.0))
    return feats.withColumn(
        "quality", stable_round(0.4 * length_term + 0.3 * punct_term + 0.3 * stop_term, 4)
    )


def langid_heuristic(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Language ID by function-word voting against literal profiles.

    Score per language = fraction of words in that language's profile;
    winner must beat 0 else ``und``. Ties resolve alphabetically
    (deterministic). Pure codegen — a 10-word IN-list per language.

    Perf note (measured, 60k pages interleaved A/B): this 4-pass
    filter+array_contains form BEATS a single aggregate pass with a
    literal word→bitmask map by ~15% — codegen shares the split across
    the four filters and a literal-map lookup compiles to a linear scan
    of all entries per word, so "one pass" buys nothing. Keep this shape.
    """
    words = norm_words(F.col(text_col))  # non-empty words only
    n = F.size(words)
    scores = []
    for lang, profile in sorted(LANG_PROFILES.items()):
        arr = F.array(*[F.lit(w) for w in profile])
        hits = F.size(F.filter(words, lambda w: F.array_contains(arr, w)))
        score = F.when(n > 0, hits / n).otherwise(F.lit(0.0))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return fan_out(df, text_col).withColumns(
        {
            "lang_pred": F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")),
            "lang_score": stable_round(best["score"], 4),
        }
    )


def doc_fingerprint(
    df: DataFrame, *, text_col: str = "text", gram_chars: int = 8, stride: int = 4
) -> DataFrame:
    """Winnowing-style fingerprint: the minimum md5 over character 8-gram
    windows (stride 4) of the normalized text, plus a full-content md5.

    ``min_gram_hash`` is robust to small edits (shared window survives);
    ``content_hash`` is the exact-dup key. Both portable hex strings. The
    stride cuts hash work 4x — winnowing never needs every window, only
    enough overlap that an edit outside one window leaves a shared minimum.
    """
    # Materialize the normalized text ONCE as a real column before the
    # per-gram lambda: referencing the lower+regexp_replace expression
    # inside `transform` would re-evaluate the whole-document regex for
    # EVERY gram position (O(doc_len × n_grams) — quadratic in document
    # length); a bound attribute is a constant-time read per element.
    out = fan_out(df, text_col).withColumn(
        "_fp_norm", F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    )
    c = F.col("_fp_norm")
    n = F.length(c)
    positions = F.when(
        n >= gram_chars, F.sequence(F.lit(1), n - (gram_chars - 1), F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(positions, lambda pos: F.md5(c.substr(pos, F.lit(gram_chars))))
    return (
        out.withColumns(
            {
                "content_hash": F.md5(c),
                "min_gram_hash": F.coalesce(F.array_min(grams), F.md5(c)),
            }
        )
        .drop("_fp_norm")
    )


def repetition_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1 — the
    standard training-corpus repetition gates): per document

    - ``n_lines``: non-blank lines (``line_sep``-delimited; the separator
      is escaped, so it is a literal string, not a regex);
    - ``dup_line_frac``: fraction of lines that duplicate another line;
    - ``dup_line_char_frac``: fraction of line characters inside
      duplicate occurrences (chars of distinct lines counted once);
    - ``top_2gram_frac``: fraction of word-2-gram instances taken by the
      most frequent 2-gram (keyword-stuffing / boilerplate signal).

    Scale shape: the line metrics are pure array algebra per row
    (``array_distinct`` + ``aggregate`` — whole-stage codegen, no
    shuffle). The 2-gram mode needs a frequency table, which no
    higher-order function provides, so it is one explode + groupBy keyed
    (doc_id, gram) — every shuffle key carries the doc id, so hub grams
    cannot concentrate (the same posture as the shingle operators) — then
    a per-doc max/sum merge and a join back on doc_id. Not present in the
    reference (its corpus is curated mappings, not web text); sibling of
    the quality/langid gates above.
    """
    import re as _re

    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(F.split(text, _re.escape(line_sep)), lambda x: F.trim(x) != "")
    distinct_lines = F.array_distinct(lines)
    chars = lambda arr: F.aggregate(  # noqa: E731 — local expression builder
        arr, F.lit(0).cast("long"), lambda s, x: s + F.length(x)
    )
    base = fan_out(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        # bind the arrays as real columns before reusing them in several
        # expressions (an unbound expression inside aggregate/transform
        # lambdas re-evaluates per element — the doc_fingerprint lesson)
        lines.alias("_lines"),
        distinct_lines.alias("_dlines"),
        norm_words(F.col(text_col)).alias("_words"),
    )
    n_lines = F.size("_lines")
    n_line_chars = chars(F.col("_lines"))
    line_stats = base.select(
        "doc_id",
        "_words",
        n_lines.alias("n_lines"),
        stable_round(
            F.when(n_lines > 0, 1.0 - F.size("_dlines") / n_lines).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_line_frac"),
        stable_round(
            F.when(
                n_line_chars > 0,
                1.0 - chars(F.col("_dlines")) / n_line_chars,
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_line_char_frac"),
    )
    nw = F.size("_words")
    grams = line_stats.select(
        "doc_id",
        F.explode(
            F.when(
                nw >= 2,
                F.transform(
                    F.sequence(F.lit(1), nw - 1),
                    lambda i: F.concat_ws(
                        " ", F.get(F.col("_words"), i - 1), F.get(F.col("_words"), i)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    per_doc = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("_mx"), F.sum("c").alias("_tot"))
    )
    return (
        line_stats.drop("_words")
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_lines",
            "dup_line_frac",
            "dup_line_char_frac",
            stable_round(
                F.when(F.col("_tot") > 0, F.col("_mx") / F.col("_tot")).otherwise(
                    F.lit(0.0)
                ),
                6,
            ).alias("top_2gram_frac"),
        )
    )


def vocab_stats(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    top_k: int = 1000,
) -> DataFrame:
    """Corpus vocabulary with term and document frequency — the tokenizer
    input every pipeline derives (BPE corpus stats, stopword induction,
    DSIR-style feature hashing all start from exactly this table).

    Tokenizes with :func:`norm_words` (THE shared word rule — the DuckDB
    oracle replays it verbatim) and emits the ``top_k`` tokens by
    ``(tf DESC, token ASC)`` with ``tf`` (total occurrences) and
    ``df_docs`` (documents containing the token), keeping tokens with
    ``df_docs >= min_df``.

    Scale shape: one explode + one aggregate. ``countDistinct`` plans as
    Spark's two-shuffle expand rewrite whose FIRST exchange is keyed on
    (token, doc) — a stopword appearing in every document cannot hot-key
    a single reducer (same argument as the paragraph-dedup distinct,
    plan-pinned in tests). The final ordering is a ``TakeOrderedAndProject``
    (top-k per partition, k-sized merge on the driver), never a global
    sort. Tokens travel as themselves (bounded by the word rule), so no
    hashing indirection is needed.
    """
    toks = fan_out(df, id_col).select(
        F.col(id_col).alias("_doc"),
        F.explode(norm_words(F.col(text_col))).alias("token"),
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("_doc").alias("df_docs"),
        )
        .filter(F.col("df_docs") >= min_df)
        .orderBy(F.desc("tf"), F.col("token").asc())
        .limit(top_k)
    )


def bpe_pair_counts(
    df: DataFrame,
    *,
    text_col: str = "text",
    top_k: int = 1000,
) -> DataFrame:
    """One BPE merge-iteration: adjacent symbol-pair frequencies inside
    pre-tokens — the inner loop of byte-pair-encoding tokenizer training
    (Sennrich et al. 2016), run corpus-wide. Pre-tokens come from
    :func:`norm_words` (THE shared word rule); symbols start as single
    characters, so the output ranks the first merge candidates.

    Returns ``(lhs, rhs, cnt)`` — the ``top_k`` pairs by
    ``(cnt DESC, lhs ASC, rhs ASC)``.

    Scale shape: aggregate to the DISTINCT-word frequency table FIRST
    (one shuffle on the word; the vocabulary is Heaps-law bounded,
    orders of magnitude smaller than the corpus at 100 TB), then explode
    each distinct word into its ``len-1`` adjacent pairs and re-aggregate
    weighted by the word count — the char-pair explode runs over the
    vocabulary, never the corpus. The final ordering is a top-k
    (``TakeOrderedAndProject``), not a global sort. A full BPE trainer
    iterates this: apply the winning merge to the vocabulary frame
    (pure map-side string rewrite) and re-run — each iteration stays
    vocabulary-sized.
    """
    words = df.select(F.explode(norm_words(F.col(text_col))).alias("word"))
    wc = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.length("word") >= 2)  # single-symbol words have no pairs
    )
    w = F.col("word")
    pairs = wc.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length(w) - 1),
                lambda i: F.struct(
                    w.substr(i, F.lit(1)).alias("lhs"),
                    w.substr(i + 1, F.lit(1)).alias("rhs"),
                ),
            )
        ).alias("p"),
        "n",
    )
    return (
        pairs.select("p.lhs", "p.rhs", "n")
        .groupBy("lhs", "rhs")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.desc("cnt"), F.col("lhs").asc(), F.col("rhs").asc())
        .limit(top_k)
    )


def bpe_train(
    df: DataFrame,
    *,
    text_col: str = "text",
    n_merges: int = 4,
) -> DataFrame:
    """BPE tokenizer training: run ``n_merges`` greedy merge iterations
    and return the learned merge table ``(merge_rank, lhs, rhs, cnt)`` —
    rank 0 first. Each iteration picks the most frequent adjacent symbol
    pair (ties to ``(lhs, rhs)`` ascending — fully deterministic) and
    rewrites the vocabulary by merging that pair greedily left-to-right
    (standard BPE apply: in ``aaa`` the merge ``a+a`` produces
    ``[aa, a]``).

    Representation: each word's symbol sequence is ONE string with
    symbols joined by ``\x1f``; the separator char itself is STRIPPED
    from tokens first (it is not whitespace, so raw crawl text can
    legally carry it — unstripped it would inject phantom empty
    symbols). The merge apply is then a literal
    ``replace(s, lhs + SEP + rhs, lhs + rhs)`` — replace-all is
    greedy-left-to-right non-overlapping in every engine, which IS the
    BPE apply rule, so the whole trajectory is SQL-replayable (the
    DuckDB oracle runs the same two iterations verbatim) and the Spark
    side stays pure codegen with no higher-order fold.

    Scale shape: the corpus is scanned ONCE, to build the distinct-word
    frequency table; every iteration after that runs on the VOCABULARY
    frame (Heaps-law bounded — caching it is the scale-right plan,
    unlike a corpus cache). Per iteration the driver collects exactly
    ONE row (the winning pair — the same bounded-state-per-round
    discipline as the k-means centroids) and the rewritten vocabulary is
    localCheckpointed so the plan does not grow with the merge count.
    """
    import pandas as pd

    spark = df.sparkSession
    sep = "\x1f"
    words = df.select(F.explode(norm_words(F.col(text_col))).alias("word"))
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.array_join(
                F.split(F.replace(F.col("word"), F.lit(sep), F.lit("")), ""), sep
            ).alias("s"),
            "n",
        )
        .localCheckpoint()
    )

    def pair_counts(v: DataFrame) -> DataFrame:
        syms = F.split(F.col("s"), sep)
        pairs = v.filter(F.size(syms) >= 2).select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(syms) - 1),
                    lambda i: F.struct(
                        F.element_at(syms, i).alias("lhs"),
                        F.element_at(syms, i + 1).alias("rhs"),
                    ),
                )
            ).alias("p"),
            "n",
        )
        return pairs.select("p.lhs", "p.rhs", "n").groupBy("lhs", "rhs").agg(
            F.sum("n").alias("cnt")
        )

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        top = (
            pair_counts(vocab)
            .orderBy(F.desc("cnt"), F.col("lhs").asc(), F.col("rhs").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        lhs, rhs, cnt = top[0]["lhs"], top[0]["rhs"], int(top[0]["cnt"])
        merges.append((rank, lhs, rhs, cnt))
        vocab = vocab.select(
            F.replace(
                F.col("s"), F.lit(lhs + sep + rhs), F.lit(lhs + rhs)
            ).alias("s"),
            "n",
        ).localCheckpoint()

    schema = "merge_rank bigint, lhs string, rhs string, cnt bigint"
    if not merges:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        pd.DataFrame(merges, columns=["merge_rank", "lhs", "rhs", "cnt"]).astype(
            {"merge_rank": "int64", "cnt": "int64"}
        ),
        schema=schema,
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a learned BPE merge table (from :func:`bpe_train`): tokenize
    every document into its final symbol sequence and append ``out_col``
    (array of symbols) plus ``n_bpe_tokens``.

    Encoding is the same separator-string representation as training —
    words become ``\\x1f``-joined char sequences, then each merge in rank
    order is ONE literal ``replace`` (greedy left-to-right, the BPE apply
    rule) — so a document encodes as pure whole-stage codegen: no UDF, no
    join, no shuffle, and the plan depth grows linearly with the merge
    count. Word boundaries are preserved by running the per-word rewrite
    inside a ``transform`` over the word array; merge symbols never cross
    words (BPE pre-tokenization contract). The ``\x1f`` separator char
    is stripped from tokens first, mirroring :func:`bpe_train`.
    """
    sep = "\x1f"

    def encode_word(w):
        # strip the separator char (legal in crawl tokens) before joining
        s = F.array_join(F.split(F.replace(w, F.lit(sep), F.lit("")), ""), sep)
        for lhs, rhs in merges:
            s = F.replace(s, F.lit(lhs + sep + rhs), F.lit(lhs + rhs))
        return F.split(s, sep)

    toks = F.flatten(F.transform(norm_words(F.col(text_col)), encode_word))
    return fan_out(df, text_col).withColumns({out_col: toks, "n_bpe_tokens": F.size(toks)})


def tfidf_topk(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-document top-``k`` TF-IDF keywords — the classic relevance
    signal (keyword extraction, topic labeling, search-index feeding).

    Returns ``(id_col, token, tf, df_docs, score_micro)`` with at most
    ``k`` rows per document, ranked by ``(score DESC, token ASC)``.
    ``score_micro = tf * floor(ln((n_docs+1)/(df_docs+1)) * 1e6)`` — the
    IDF is FLOOR-quantized to integer micro-nats (same cross-engine
    discipline as the DSIR weights: identical IEEE doubles floor
    identically everywhere, and per-token scores become exact integer
    products, immune to summation-order effects). Smoothed +1 IDF keeps
    corpus-universal tokens at a small negative score instead of NaN.

    Scale shape: term frequencies are one ``groupBy(doc, token)`` (hub
    tokens split across docs, so no hot key); the document-frequency
    dimension derives from that frame with a second token-keyed aggregate
    whose map-side partials collapse repeats; the scoring join keys on
    the token (bounded dim — AQE broadcasts when it fits, skew-splits
    when a stopword is hot); the top-k is a per-document window over
    doc-vocabulary-sized groups. The corpus total is the ONE
    driver-collected scalar. No corpus cache — the token stream is
    recomputed for the dimension pass, per the family discipline.
    """
    import math

    from pyspark.sql import Window

    df = fan_out(df, id_col)
    n_docs = df.count()

    def tf_frame() -> DataFrame:
        toks = df.select(
            F.col(id_col).alias("_doc"),
            F.explode(norm_words(F.col(text_col))).alias("token"),
        )
        return toks.groupBy("_doc", "token").agg(F.count(F.lit(1)).alias("tf"))

    tf = tf_frame()
    dfreq = (
        tf_frame()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df_docs"))
        .withColumn(
            "idf_micro",
            F.floor(F.log((F.lit(float(n_docs + 1))) / (F.col("df_docs") + 1)) * 1e6)
            .cast("long"),
        )
    )
    scored = tf.join(dfreq, on="token").select(
        F.col("_doc").alias(id_col),
        "token",
        "tf",
        "df_docs",
        (F.col("tf") * F.col("idf_micro")).alias("score_micro"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score_micro"), F.col("token").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def unigram_logprob_score(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    smoothing_k: float = 1.0,
) -> DataFrame:
    """Corpus-unigram language-model scoring — the CCNet/Gopher-style
    "perplexity" quality proxy, self-trained (no external model in the
    container): per document, the mean negative log-likelihood of its
    tokens under the add-k-smoothed corpus unigram distribution
    ``p(w) = (tf_w + k) / (T + k·(V+1))``. Low ``mean_nll`` = common,
    fluent vocabulary; high = rare-token noise (mojibake, hashes, code
    dumps) — the standard cut for corpus quality filtering.

    Output: ``(doc_id, n_tokens, mean_nll)`` for EVERY input row;
    token-less documents get ``(0, NULL)``. Tokenizes with
    :func:`norm_words` (THE shared word rule; the DuckDB oracle replays
    it verbatim). Rounded to 6 dp.

    Scale shape: two corpus scans (train pass, score pass — the token
    stream is recomputed, never cached, per the no-corpus-cache
    discipline) and one persisted DIMENSION: the vocabulary (token, tf),
    bounded by Heaps' law at a tiny fraction of corpus bytes. The
    training aggregation's map-side partial counts collapse stopword
    repeats per partition before the exchange; the scoring join keys the
    token stream against the vocab dim — AQE broadcasts it in the common
    case, so the corpus is scored map-side, and the per-document mean is
    the one inherent shuffle (doc-keyed, skew-free). The two model
    scalars (T, V — exact integers) fold into literals, so both engines
    take ``ln`` of identical doubles and 6-dp rounding absorbs the
    remaining libm ulps.
    """
    df = fan_out(df, id_col)
    toks = df.select(
        F.col(id_col).alias("_doc"),
        F.explode(norm_words(F.col(text_col))).alias("token"),
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tf")).persist()
    row = vocab.agg(
        F.coalesce(F.sum("tf"), F.lit(0)).alias("t"), F.count(F.lit(1)).alias("v")
    ).first()
    total, vsize = int(row["t"]), int(row["v"])
    k = float(smoothing_k)
    denom = float(total) + k * (vsize + 1)
    scored = (
        toks.join(vocab, on="token")
        .groupBy("_doc")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            stable_round(
                F.avg(F.log(F.lit(denom)) - F.log(F.col("tf") + F.lit(k))), 6
            ).alias("mean_nll"),
        )
    )
    out = (
        df.select(F.col(id_col).alias("doc_id"))
        .join(scored, on=F.col("doc_id") == scored["_doc"], how="left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            "mean_nll",
        )
        # eager: materialize while the vocab dim is pinned, then release it
        .localCheckpoint()
    )
    vocab.unpersist()
    return out


def bigram_pmi(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Pointwise mutual information of ADJACENT token pairs — the
    word2phrase-style collocation miner ("new york", "machine learning")
    that seeds phrase vocabularies and multi-word entity candidates for
    the grounding index.

    ``pmi = ln( p(w1,w2) / (p(w1)·p(w2)) )`` with ``p(w1,w2)`` over the
    corpus's adjacent-pair occurrences and ``p(w)`` over token
    occurrences; pairs with fewer than ``min_count`` occurrences are
    dropped (PMI is notoriously noisy on rare pairs). Output:
    ``(w1, w2, c, pmi)``, 6 dp. Tokenizes with :func:`norm_words`.

    Scale shape: three corpus scans, none cached — one scalar job for
    the token total and the non-empty-doc count (the number of adjacent
    pairs is EXACTLY ``total_tokens − non_empty_docs``, so the bigram
    total never needs a second aggregation over the pair frame), the
    unigram count aggregation (vocab-sized output dim, persisted), and
    the bigram count aggregation (map-side partials collapse repeated
    pairs before the exchange — the (w1, w2) key space cannot hot-key on
    a stopword pair).
    Probability joins hit the persisted vocab dim (AQE broadcast).
    """
    df = fan_out(df, id_col)
    toks = norm_words(F.col(text_col))
    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
        .persist()
    )
    # token total and non-empty documents in one job; only positive
    # sizes count (size(NULL) is -1 with ANSI mode off)
    k = F.size(toks)
    row = df.agg(
        F.coalesce(F.sum(F.when(k > 0, k)), F.lit(0)).alias("t1"),
        F.count(F.when(k > 0, 1)).alias("nonempty"),
    ).first()
    t1 = int(row["t1"])
    t2 = t1 - int(row["nonempty"])
    if t2 <= 0:
        out = uni.sparkSession.createDataFrame(
            [], "w1 string, w2 string, c bigint, pmi double"
        )
        uni.unpersist()
        return out
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = df.select(
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, m).alias("w1"), F.slice(toks, 2, m).alias("w2")
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("cw").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cw").alias("c2"))
    out = (
        big.join(u1, on="w1")
        .join(u2, on="w2")
        .select(
            "w1",
            "w2",
            "c",
            stable_round(
                F.log(
                    (F.col("c") / F.lit(float(t2)))
                    / (
                        (F.col("c1") / F.lit(float(t1)))
                        * (F.col("c2") / F.lit(float(t1)))
                    )
                ),
                6,
            ).alias("pmi"),
        )
        # eager: materialize while the vocab dim is pinned, then release it
        .localCheckpoint()
    )
    uni.unpersist()
    return out


def zipf_fit(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 200,
) -> DataFrame:
    """Zipf power-law fit over the corpus vocabulary: least-squares slope
    and intercept of ``ln(freq) ~ ln(rank)`` for the ``top_k`` tokens —
    the one-row corpus-health summary (natural language sits near slope
    −1; scraped boilerplate, spam, and synthetic text bend it) that
    corpus dashboards track across crawls.

    Output: one row ``(n_tokens_fit, slope, intercept)``, 6 dp.

    Scale shape: the vocabulary aggregation is the only corpus-sized
    stage (same as :func:`vocab_stats`); ranking and the closed-form
    least-squares moments run over the top-k frame (TakeOrderedAndProject
    then k rows — driver-free, one aggregate row out).
    """
    toks = df.select(F.explode(norm_words(F.col(text_col))).alias("token"))
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), F.col("token").asc())
        .limit(top_k)
    )
    from pyspark.sql import Window

    ranked = top.select(
        F.log(
            F.row_number()
            .over(Window.orderBy(F.desc("tf"), F.col("token").asc()))
            .cast("double")
        ).alias("x"),
        F.log(F.col("tf").cast("double")).alias("y"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / den
    # degenerate fit (a single point: den = 0) is NULL in BOTH engines,
    # never a NaN/Inf that silently poisons downstream dashboards
    return m.select(
        F.col("n").alias("n_tokens_fit"),
        F.when(den != 0, stable_round(slope, 6)).alias("slope"),
        F.when(
            den != 0,
            stable_round(
                F.col("sy") / F.col("n") - slope * F.col("sx") / F.col("n"), 6
            ),
        ).alias("intercept"),
    )

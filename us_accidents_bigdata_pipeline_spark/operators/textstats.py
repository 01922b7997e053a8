"""Text-analysis operators (LLM-pipeline extension): token counting,
quality scoring, language ID, fingerprinting.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM,
whole-stage codegen) — a 100 TB text scan never crosses into Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import nonempty_token_count, token_count, word_tokens

# Tiny high-frequency stopword lists for the language-ID heuristic.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
# BPE-ish word/punct segmentation: word pieces or single non-space symbols.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# single tokenization definition — functions.token_count is the source
# of truth so a tokenizer change can't drift between modules
n_tokens = token_count


def n_tokens_bpe_ish(text: Column | str) -> Column:
    """Token count under a BPE-ish regex segmentation (words / digit runs /
    single symbols) — the cheap proxy for tokenizer-cost estimation."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def stopword_count(text: Column | str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Number of tokens that are stopwords (array filter, JVM-side)."""
    return F.size(F.filter(word_tokens(text), lambda t: t.isin(*stopwords)))


def text_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document stats: chars, whitespace tokens, BPE-ish tokens,
    mean token length, stopword ratio."""
    toks = n_tokens(text_col)
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        toks.alias("n_tokens"),
        n_tokens_bpe_ish(text_col).alias("n_tokens_bpe"),
        F.round(
            (F.length(F.regexp_replace(text_col, r"\s+", "")) / toks), 4
        ).alias("avg_token_len"),
        F.round(stopword_count(text_col) / toks, 4).alias("stopword_ratio"),
    )


def quality_score(text: Column | str, toks: Column | None = None) -> Column:
    """Heuristic document quality in [0,1]: blend of length adequacy,
    stopword presence, and mean-word-length plausibility (the
    Gopher/C4-style rule-based filters, rule subset).

    ``toks`` (optional) is a pre-bound raw whitespace-token array
    (``word_tokens(text)`` aliased in its own Project): without it the
    regex split re-executes per sub-expression — CollapseProject
    inlines single-use aliases, and HOF-bearing expressions don't
    participate in codegen subexpression elimination (r12: 10
    ``split(trim(`` per doc in the curation funnel's annotate pass).
    Values are identical either way."""
    tok_arr = word_tokens(text) if toks is None else toks
    toks = F.size(tok_arr)
    swr = F.size(F.filter(tok_arr, lambda t: t.isin(*EN_STOPWORDS))) / toks
    awl = F.length(F.regexp_replace(text, r"\s+", "")) / toks
    len_ok = F.least(toks / F.lit(50.0), F.lit(1.0))
    sw_ok = F.least(swr / F.lit(0.05), F.lit(1.0))
    wl_ok = F.when((awl >= 2.0) & (awl <= 12.0), 1.0).otherwise(0.3)
    return F.round(0.4 * len_ok + 0.3 * sw_ok + 0.3 * wl_ok, 4)


def language_id(text: Column | str) -> Column:
    """N-gram/stopword language-ID heuristic (en vs unknown on this
    corpus; extend the stopword table per language for more)."""
    swr = stopword_count(text) / n_tokens(text)
    return F.when(swr >= 0.02, F.lit("en")).otherwise(F.lit("unknown"))


def fingerprint64(text: Column | str) -> Column:
    """64-bit content fingerprint (xxhash64 of normalized text):
    whitespace-collapsed, lowercased — catches formatting-only dupes
    that exact string equality misses."""
    c = F.col(text) if isinstance(text, str) else text
    return F.xxhash64(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))


def repetition_flag(
    text_col: Column | str,
    top_frac_max: float = 0.2,
    distinct_ratio_min: float = 0.3,
    toks: Column | None = None,
) -> Column:
    """The Gopher repetition predicate as a single COLUMN expression
    (true = repetitive OR token-less), composable into any projection
    without a join — ``curate_corpus`` fuses it with the quality score
    into one pass. Same math as ``repetition_stats``; see there for
    the plan-shape rationale. NULL-safe: empty/whitespace-only docs
    yield true (they carry no signal and the grouped formulation
    excluded them from its output entirely).

    ``toks`` (optional): pre-bound raw token array — same let-binding
    rationale as ``quality_score``; values identical either way."""
    raw = word_tokens(text_col) if toks is None else toks
    toks = F.filter(raw, lambda t: t != "")
    n_tokens = F.size(toks)
    sorted_toks = F.array_sort(toks)
    top_c = F.aggregate(
        sorted_toks,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    # UNROUNDED ratios, exactly like repetition_stats' flag (its
    # rounded columns are display-only)
    n_tok_frac = top_c / n_tokens
    d_ratio = F.size(F.array_distinct(toks)) / n_tokens
    return F.when(n_tokens <= 0, F.lit(True)).otherwise(
        (n_tok_frac > top_frac_max) | (d_ratio < distinct_ratio_min)
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_frac_max: float = 0.2,
    distinct_ratio_min: float = 0.3,
) -> DataFrame:
    """Per-document repetition metrics — the Gopher-style repetition
    filter (Rae et al. 2021 §A1.1): distinct-token ratio and the mass
    fraction of the single most frequent token, plus the boolean
    repetitive-document flag used to drop boilerplate/spam from a
    training corpus.

    Plan shape: the metric is ROW-LOCAL, so the formulation is a pure
    projection — zero Exchange, whole-stage codegen, the row-parallel
    ideal at any corpus size. The per-doc top-token count comes from a
    higher-order fold over the SORTED token array (longest equal-run =
    max occurrence count), n_distinct from array_distinct — no explode,
    so the token stream is never shuffled. (The earlier formulation
    exploded tokens through two hash aggregations: same answer, two
    full shuffles of the corpus token stream that a row-local metric
    never needed. Docs whose token list is empty produce no output
    row, matching the explode formulation's semantics.) Per-doc cost is
    O(tokens·log tokens) inside codegen; for million-token documents
    cap upstream via chunking.
    """
    toks = F.filter(word_tokens(text_col), lambda t: t != "")
    sorted_toks = F.array_sort(toks)
    run = F.aggregate(
        sorted_toks,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    n_tok = F.col("top_c") / F.col("n_tokens")
    d_ratio = F.col("n_distinct") / F.col("n_tokens")
    return (
        # the no-token exclusion is a PRE-filter on the raw text: a
        # non-whitespace character exists exactly when the \s+ split
        # yields >= 1 non-empty token (NULL text -> NULL -> dropped;
        # whitespace-only text such as "\t" -> dropped) — row-identical
        # to filter(n_tokens > 0), which the optimizer pushed below the
        # Project and re-evaluated the tokenize expression inside the
        # predicate (round-13 filter-under-Project lesson)
        df.filter(
            (F.col(text_col) if isinstance(text_col, str) else text_col).rlike(
                r"\S"
            )
        )
        .select(
            F.col(id_col),
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
            run.cast("long").alias("top_c"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.round(d_ratio, 4).alias("distinct_ratio"),
            F.round(n_tok, 4).alias("top_token_frac"),
            ((n_tok > top_frac_max) | (d_ratio < distinct_ratio_min)).alias(
                "is_repetitive"
            ),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF — the classic keyword /
    salient-term extractor over a training corpus (reference analog:
    the severity-keyword profiling in
    BigDataPipeline/spark/data_cleaning.py's categorical summaries).

    Ranking is integer-lexicographic — (tf DESC, df ASC, token ASC) —
    which is tf·idf-monotone for a fixed document and, unlike ordering
    by the float score itself, engine-exact: the rank-k cut can never
    flip on a last-ulp difference between two engines' ``ln``. The
    smoothed score ln((N+1)/(df+1))·tf is still emitted (rounded) as a
    value column.

    Plan shape: explode → (doc, token) hash agg with map-side combine →
    token-keyed doc-frequency agg (Zipf-bounded, tiny) joined back on
    token → per-doc window rank. Shuffles: one on (doc, token), one on
    token, one on doc for the window — all key-partitioned, no driver
    work, no UDF.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(word_tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("token").agg(
        F.count(F.lit(1)).alias("df_docs")
    )
    n_docs = df.select(F.countDistinct(id_col)).first()[0]
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df_docs").asc(), F.col("token").asc()
    )
    scored = (
        tf.join(F.broadcast(docfreq), "token")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    idf = F.log((F.lit(float(n_docs) + 1.0)) / (F.col("df_docs") + F.lit(1.0)))
    return scored.select(
        F.col(id_col),
        F.col("rank"),
        F.col("token"),
        F.col("tf"),
        F.col("df_docs"),
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    stride: int = 16,
) -> DataFrame:
    """Split each document into overlapping token windows — the
    training-data chunking step that turns long documents into
    fixed-budget model inputs (stride < chunk_tokens → overlap).

    Chunk starts are 0, stride, 2·stride, … while start < n_tokens, so
    the tail is kept as a short final chunk rather than dropped.

    Plan shape: map-only — tokenize, build the start sequence with
    ``F.sequence``, ``posexplode`` it, and slice the token array
    JVM-side. No shuffle at all: chunking 100 TB is embarrassingly
    parallel and this plan keeps it that way.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.size(toks).alias("_n"),
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)), F.lit(stride)
    )
    return (
        base.select(
            F.col(id_col),
            F.col("_toks"),
            F.col("_n"),
            F.posexplode(starts).alias("chunk_id", "start"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id"),
            F.least(
                F.col("_n") - F.col("start"), F.lit(chunk_tokens)
            ).alias("n_tokens"),
            F.array_join(
                F.slice(F.col("_toks"), F.col("start") + 1, chunk_tokens), " "
            ).alias("chunk_text"),
        )
    )


# RE2- and Java-regex compatible (no lookaround, no backrefs) so the
# Spark plan and any SQL oracle redact identically.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def pii_redact(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    pattern: str = EMAIL_PATTERN,
    replacement: str = "[REDACTED]",
) -> DataFrame:
    """Redact PII-shaped substrings (default: emails) and count the
    redactions per document — the compliance-scrubbing pass every
    training-data pipeline needs before export.

    Map-only JVM regex (``regexp_replace`` / ``regexp_count``); no
    shuffle, no UDF — a full-corpus scrub stays embarrassingly
    parallel at any scale.
    """
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.regexp_replace(c, F.lit(pattern), F.lit(replacement)).alias(
            "redacted_text"
        ),
        F.regexp_count(c, F.lit(pattern)).alias("n_redacted"),
    )


def token_kl_by_source(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group token-distribution divergence KL(P_group ‖ P_corpus) —
    the dataset-mixture diagnostic that flags a source whose token
    distribution drifts from the blend (domain skew, contamination,
    template spam) before it poisons a training run.

    Plan shape: explode → (group, token) hash agg with map-side
    combine; the corpus distribution is the token-level re-aggregate of
    the same frame (Zipf-bounded, broadcast back); final agg on group.
    Every p > 0 implies q > 0 (the group is part of the corpus), so
    the sum is always finite.

    The (group, token, c, g_total) frame is materialized ONCE
    (`_shared` lazy localCheckpoint): it feeds the corpus re-aggregate,
    the eager corpus-total readout AND the final join — without the
    checkpoint each consumer re-derived the full tokenize + explode +
    aggregate from the corpus scan (measured r12: 2 parquet scans in
    the final plan plus a third derivation for the total).
    """
    from pyspark.sql import Window

    from .dedup import _shared

    toks = df.select(
        F.col(group_col), F.explode(word_tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    per_group = toks.groupBy(group_col, "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_group = _shared(per_group.withColumn(
        "g_total", F.sum("c").over(Window.partitionBy(group_col))
    ))
    corpus = per_group.groupBy("token").agg(F.sum("c").alias("cc"))
    # corpus total derives from the already-aggregated (Zipf-tiny)
    # frame — never a second tokenize pass over the raw corpus
    corpus_total = corpus.agg(F.sum("cc")).first()[0]
    p = F.col("c") / F.col("g_total")
    q = F.col("cc") / F.lit(float(corpus_total))
    return (
        per_group.join(F.broadcast(corpus), "token")
        .groupBy(group_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_vs_corpus"),
        )
    )


def char_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document character-distribution Shannon entropy (nats) — the
    cheap compression-ratio proxy quality signal (low entropy ⇒
    repetitive/template/spam text; the CCNet/RefinedWeb-style filter
    family): H = Σ p·ln(1/p) over the doc's character frequencies.

    The ``p·ln(1/p)`` form (not ``-Σ p·ln p``) keeps an all-same-char
    document at exactly +0.0 — a negated zero would stringify as
    "-0.0" and break engine-exact comparison.

    Plan shape: explode chars → (doc, char) hash agg with map-side
    combine (the shuffle carries per-doc distinct chars — alphabet-
    bounded, ~100 rows/doc — never raw characters) → per-doc window
    total → final agg on doc. All JVM-side."""
    from pyspark.sql import Window

    chars = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).filter(F.col("ch") != "")
    per = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("c"))
    per = per.withColumn("n", F.sum("c").over(Window.partitionBy(id_col)))
    p = F.col("c") / F.col("n")
    return per.groupBy(id_col).agg(
        F.max("n").alias("n_chars"),
        F.round(F.sum(p * F.log(F.lit(1.0) / p)), 6).alias("char_entropy"),
    )


def vocab_top_tokens(
    df: DataFrame, text_col: str = "text", k: int = 50
) -> DataFrame:
    """Corpus vocabulary: the ``k`` most frequent whitespace tokens as
    (token, n), ties broken alphabetically so the cut at rank k is
    deterministic — the building block for tokenizer vocab induction
    and frequency-based filtering over a training corpus.

    Plan shape: explode → partial hash agg (map-side combine reduces
    the shuffle to |vocab| rows per task, and natural-language vocab is
    Zipf-bounded, so the shuffle stays tiny at any corpus size) →
    final agg → TakeOrderedAndProject for the top-k. No driver-side
    work beyond k rows."""
    toks = df.select(
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(k)
    )


def dsir_logweights(
    df: DataFrame,
    target_filter,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 200,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by how much its unigram distribution looks like a TARGET
    slice of the corpus versus the corpus overall, as the log-ratio

        logweight(doc) = Σ_{t ∈ doc ∩ V} log p_target(t) / p_source(t)

    with add-one-smoothed probabilities over a fixed top-``vocab_size``
    vocabulary V (count-desc, token-asc tie-break — engine-exact cut).
    High-weight docs are up-sampled when composing a training mixture
    toward the target domain (`operators/sample.mixture_sample` is the
    companion sampler).

    Plan shape: one token-keyed aggregation builds BOTH distributions
    in a single pass (conditional sums per token), the ~|V|-row ratio
    table broadcasts, and the per-doc score is an explode → broadcast
    equi-join → per-doc sum — the corpus text itself never shuffles.
    Scales: vocab is Zipf-bounded; everything heavy is map-side.

    ``target_filter``: a boolean Column selecting the target slice
    (e.g. ``F.col("lang") == "en"``).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        target_filter.alias("_is_target"),
        F.explode(word_tokens(text_col)).alias("token"),
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(
        F.sum(F.when(F.col("_is_target"), 1).otherwise(0)).alias("ct"),
        F.count(F.lit(1)).alias("cs"),
    )
    from .dedup import _shared

    w = Window.orderBy(F.col("cs").desc(), F.col("token").asc())
    # the ~|V|-row vocab feeds BOTH the totals aggregate and the ratio
    # projection — checkpointed so the token aggregation + global
    # top-|V| window run once, not once per consumer
    vocab = _shared(
        counts.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= vocab_size)
        .drop("_r")
    )
    totals = vocab.agg(
        F.sum("ct").alias("Tt"), F.sum("cs").alias("Ts")
    )
    v = float(vocab_size)
    ratio = (
        vocab.join(F.broadcast(totals))
        .select(
            "token",
            (
                F.log((F.col("ct") + 1.0) / (F.col("Tt") + v))
                - F.log((F.col("cs") + 1.0) / (F.col("Ts") + v))
            ).alias("logratio"),
        )
    )
    scored = (
        toks.join(F.broadcast(ratio), "token")
        .groupBy(id_col)
        .agg(F.sum("logratio").alias("_lw"))
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left_outer")
        .select(
            id_col,
            F.round(F.coalesce(F.col("_lw"), F.lit(0.0)), 4).alias("logweight"),
        )
    )


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_word_len: float = 3.0,
    max_word_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher-style rule panel (Rae et al. 2021 §A1.1) as one row per
    document: the raw statistics, each rule's verdict, and the overall
    gate. Unlike ``quality_score`` (a blended scalar), this keeps every
    rule SEPARATE so a curation run can report which rule rejected each
    document — the audit a production filter needs.

    Rules: word count within [min_words, max_words]; mean word length
    within [min_word_len, max_word_len]; fraction of words containing
    an alphabetic character ≥ min_alpha_frac; at least min_stopwords
    stopword occurrences.

    Flags are computed on UNROUNDED per-row arithmetic (exact integer
    ratios in IEEE double — engine-identical); the emitted float stats
    are rounded for display. Token-less documents fail every rule.

    Plan shape: pure column expressions over a single scan — no join,
    no shuffle, whole-stage codegen end to end; at 100 TB this is a
    map-only pass that fuses with whatever filter consumes it.
    """
    toks = F.filter(word_tokens(text_col), lambda t: t != "")
    n = F.size(toks)
    chars = F.length(F.regexp_replace(text_col, r"\s+", ""))
    # when-guarded (NULL for token-less docs) rather than raw division:
    # ANSI mode (Spark 4 default) raises DIVIDE_BY_ZERO otherwise; the
    # oracle's CASE WHEN len(toks) > 0 mirrors the NULL
    mean_wl = F.when(n > 0, chars / n)
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_frac = F.when(n > 0, alpha / n)
    n_stop = stopword_count(text_col)
    wc_ok = (n >= min_words) & (n <= max_words)
    wl_ok = (mean_wl >= min_word_len) & (mean_wl <= max_word_len)
    al_ok = alpha_frac >= min_alpha_frac
    sw_ok = n_stop >= min_stopwords
    nonempty = n > 0
    # coalesce(..., FALSE) on every flag: a NULL text row makes each
    # conjunct NULL (size(split(NULL)) is NULL and NULL & NULL = NULL)
    # while the oracle coalesces every flag to FALSE — mirror it so a
    # NULL document FAILS the gate under both engines.
    _f = F.lit(False)
    return df.select(
        F.col(id_col),
        n.alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(alpha_frac, 4).alias("alpha_frac"),
        n_stop.alias("n_stopwords"),
        F.coalesce(nonempty & wc_ok, _f).alias("word_count_ok"),
        F.coalesce(nonempty & wl_ok, _f).alias("word_len_ok"),
        F.coalesce(nonempty & al_ok, _f).alias("alpha_ok"),
        F.coalesce(nonempty & sw_ok, _f).alias("stopword_ok"),
        F.coalesce(
            nonempty & wc_ok & wl_ok & al_ok & sw_ok, _f
        ).alias("pass_gopher"),
    )


def token_pmi(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_freq: int = 5,
    top_k: int = 25,
) -> DataFrame:
    """Pointwise mutual information of token PAIRS by document
    co-occurrence — the phrase-mining / collocation signal:

        pmi(a,b) = ln( df(a,b) · N / (df(a) · df(b)) )

    over DISTINCT (doc, token) incidences, restricted to tokens whose
    document frequency is ≥ ``min_doc_freq`` (the vocabulary cap that
    bounds the pair join). Returns the ``top_k`` pairs.

    Ranking is by the RATIO df(a,b)·N/(df(a)·df(b)) — a single IEEE
    division of exact integers, engine-identical — with (token_a,
    token_b) tie-break, so the rank-k cut can never flip on a last-ulp
    ``ln`` difference between engines; the rounded pmi itself is the
    emitted value (same discipline as ``tfidf_top_terms``).

    Plan shape: explode → distinct (doc, token) → broadcast-semi join
    against the Zipf-bounded vocabulary → per-doc self-join (a < b,
    bounded by per-doc distinct-vocab-token count squared) → (a, b)
    hash agg with map-side combine → broadcast df(a)/df(b) lookups →
    TakeOrderedAndProject. The corpus text shuffles once, as slim
    (doc, token) pairs.
    """
    from .dedup import _shared

    # the slim (doc, token) incidence frame feeds the doc-frequency
    # aggregate AND (via the vocab semi-join) both sides of the
    # per-doc pair join; the Zipf-bounded vocab feeds the semi-join
    # and the two df lookups — checkpointed so the corpus explode +
    # distinct and the frequency aggregate each run once
    dt = _shared(
        df.select(
            F.col(id_col).alias("_d"),
            F.explode(word_tokens(text_col)).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    dfreq = dt.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))
    vocab = _shared(dfreq.filter(F.col("df_docs") >= min_doc_freq))
    dtv = dt.join(F.broadcast(vocab.select("token")), "token")
    n_docs = df.count()
    a = dtv.select("_d", F.col("token").alias("token_a"))
    b = dtv.select("_d", F.col("token").alias("token_b"))
    pair_df = (
        a.join(b, "_d")
        .filter(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).alias("df_pair"))
    )
    fa = vocab.select(
        F.col("token").alias("token_a"), F.col("df_docs").alias("df_a")
    )
    fb = vocab.select(
        F.col("token").alias("token_b"), F.col("df_docs").alias("df_b")
    )
    ratio = (F.col("df_pair") * F.lit(float(n_docs))) / (
        F.col("df_a") * F.col("df_b")
    )
    return (
        pair_df.join(F.broadcast(fa), "token_a")
        .join(F.broadcast(fb), "token_b")
        .withColumn("_ratio", ratio)
        .orderBy(F.col("_ratio").desc(), "token_a", "token_b")
        .limit(top_k)
        .select(
            "token_a",
            "token_b",
            F.col("df_pair"),
            F.round(F.log("_ratio"), 4).alias("pmi"),
        )
    )


def dup_ngram_char_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    flag_threshold: float = 0.2,
) -> DataFrame:
    """Gopher's duplicate-n-gram rule at the CHARACTER level (Rae et
    al. 2021 §A1.1): the fraction of a document's n-gram characters
    that sit inside word n-grams occurring more than once in that
    document. ``repetition_flag`` covers the top-token and
    distinct-ratio rules; this is the remaining rep signal — long
    copy-pasted runs that unigram stats miss.

    frac = Σ_{g: cnt_g>1} cnt_g·len(g) / Σ_g cnt_g·len(g), rounded to
    4; documents with fewer than ``n`` tokens have no n-grams and
    report 0.0. The flag compares the ROUNDED fraction (engine-exact).

    Plan shape: per-row gram array (JVM transform over a sequence — no
    explode until the slim (id, gram) projection), one (id, gram) hash
    agg with map-side combine, one per-doc agg, left join back to the
    id spine. Text shuffles only as grams.
    """
    toks = F.filter(word_tokens(text_col), lambda t: t != "")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = df.select(
        F.col(id_col), F.explode(grams).alias("gram")
    )
    per_gram = g.groupBy(id_col, "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_doc = per_gram.groupBy(id_col).agg(
        F.sum(F.col("cnt") * F.length("gram")).alias("_tot"),
        F.sum(
            F.when(F.col("cnt") > 1, F.col("cnt") * F.length("gram"))
            .otherwise(F.lit(0))
        ).alias("_dup"),
    )
    # EXACT-RATIONAL 4-decimal rounding (round 13): _dup and _tot are
    # exact integer sums, but round(dup/tot, 4) on the double QUOTIENT
    # is engine-fragile at half-point boundaries (found at sf0.1: doc
    # 3859's quotient rounds 0.1413 in Spark — BigDecimal HALF_UP on
    # the shortest double repr — vs 0.1412 in DuckDB's double
    # arithmetic). round_half_up(10^4·dup/tot) = (20000·dup + tot) div
    # (2·tot) is pure integer arithmetic every engine agrees on;
    # /10000.0 is one correctly-rounded conversion. Fits BIGINT at any
    # document size this operator can see (dup ≤ tot ≤ chars·n).
    frac = F.coalesce(
        F.expr("(20000 * _dup + _tot) div (2 * _tot)") / F.lit(10000.0),
        F.lit(0.0),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(frac, F.lit(0.0)).alias("dup_char_frac"),
            (
                F.coalesce(frac, F.lit(0.0)) > F.lit(flag_threshold)
            ).alias("is_repetitive"),
        )
    )


def token_coverage_curve(
    df: DataFrame,
    text_col: str = "text",
    ks: tuple = (5, 10, 20, 30, 100, 1000),
) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocabulary size
    K, the fraction of the corpus's total token MASS covered by the K
    most frequent tokens — the readout that sizes a tokenizer's
    vocabulary (coverage@K ≈ 1 − OOV rate under a top-K vocab) and
    quantifies how Zipfian the corpus is.

    Ranking is (count DESC, token) — exact integers with a
    deterministic tie-break, so the K cuts are engine-exact; coverage
    is one IEEE division of exact cumulative integers per K, rounded
    at 6.

    Scale shape: the corpus tokenizes once into a (token, count) hash
    aggregate with map-side combine; the query then needs only two
    global scalars (total mass, vocab size — a 1-row aggregate) plus
    the top max(ks) tokens, taken via ``orderBy(...).limit`` — a
    TakeOrderedAndProject, i.e. a map-side partial top-K per
    partition, NEVER a full-vocabulary sort. The rank/cumulative
    window runs over that ≤ max(ks)-row head only, and the scalars
    ride in on a broadcast 1-row cross join. An open-web corpus's
    distinct-token count grows ~Heaps-law with corpus size, so the
    old full-|vocab| single-partition window was the one plan shape
    here that would NOT survive 100 TB; this one does.
    Output: (k, distinct_tokens, coverage).
    """
    from pyspark.sql import Window as W

    freq = (
        df.select(F.explode(word_tokens(text_col)).alias("_t"))
        .filter(F.col("_t") != "")
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    kmax = max(int(k) for k in ks)
    totals = freq.agg(
        F.sum("_c").alias("_tot"),
        F.count(F.lit(1)).alias("_nvocab"),
    )
    head = freq.orderBy(F.col("_c").desc(), F.col("_t")).limit(kmax)
    w = W.orderBy(F.col("_c").desc(), F.col("_t"))
    wcum = w.rowsBetween(W.unboundedPreceding, 0)
    ranked = head.select(
        F.row_number().over(w).alias("_r"),
        F.sum("_c").over(wcum).alias("_cum"),
    )
    return (
        ranked.filter(F.col("_r").isin(*[int(k) for k in ks]))
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("_r").cast("int").alias("k"),
            F.col("_nvocab").cast("long").alias("distinct_tokens"),
            F.round(
                F.col("_cum").cast("double") / F.col("_tot"), 6
            ).alias("coverage"),
        )
        .orderBy("k")
    )


def script_mix_profile(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group Unicode-script composition — the multilingual
    governance readout a web-scale corpus needs before language
    routing: for each group, the character mass in Latin letters,
    digits, whitespace, ASCII punctuation, CJK, Cyrillic, and
    everything else, as exact counts plus round-6 fractions of the
    group's total characters.

    Counts come from ``length(x) − length(regexp_replace(x, cls,
    ''))`` with explicit code-point ranges (no engine-specific \\\\p
    classes), so every number is an exact integer both engines agree
    on; the only IEEE step is the final share division.

    Scale shape: map-only per-document class counts (regexp engines
    run JVM-side), one group-keyed aggregate with map-side partial.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_all = F.length(t)

    def cls(pattern: str) -> Column:
        return n_all - F.length(F.regexp_replace(t, pattern, ""))

    classes = {
        "latin": "[A-Za-z]",
        "digit": "[0-9]",
        "space": "[ \\t\\n\\r]",
        "punct": "[!-/:-@\\[-`{-~]",
        # \x{...} escapes parse identically in Java regex (Spark) and
        # RE2 (DuckDB); \uXXXX would not survive RE2
        "cjk": "[\\x{4e00}-\\x{9fff}]",
        "cyrillic": "[\\x{0400}-\\x{04ff}]",
    }
    sums = [
        F.sum(cls(p)).cast("long").alias(f"n_{name}")
        for name, p in classes.items()
    ]
    agg = df.groupBy(group_col).agg(
        F.sum(n_all).cast("long").alias("n_chars"), *sums
    )
    known = None
    for name in classes:
        c = F.col(f"n_{name}")
        known = c if known is None else known + c
    tot = F.col("n_chars").cast("double")
    return agg.select(
        group_col,
        "n_chars",
        *[F.col(f"n_{name}") for name in classes],
        (F.col("n_chars") - known).cast("long").alias("n_other"),
        *[
            F.round(F.col(f"n_{name}") / tot, 6).alias(f"frac_{name}")
            for name in classes
        ],
    )


def ngram_novelty_by_source(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    n: int = 3,
) -> DataFrame:
    """Per-source n-gram novelty — the inverse-boilerplate readout:
    what fraction of a source's distinct-per-doc n-grams appear in NO
    other document of the corpus. Template/boilerplate-heavy sources
    score low (their grams recur across docs); fresh prose scores
    high. All counts are exact integers; novelty is one division,
    rounded at 6 (NULL for a source with no n-grams at all). n_docs
    counts EVERY document of the source — docs too short to emit an
    n-gram still count, with zero gram mass.

    Scale shape: distinct (doc, gram) pairs once (the dedup tier's
    shingle frame); gram document-counts via one gram-keyed aggregate
    with map-side partial; one gram-keyed join back (slim rows — the
    doc payload never rides it); doc→source lookup joined on the doc
    key; final source-keyed aggregate. Zipf guarantees the gram-count
    frame concentrates mass in few hot grams, but the join stays
    hash-partitioned on gram — no broadcast of vocabulary-sized
    state.
    """
    from ..operators.dedup import _doc_shingles, _shared

    sh = _shared(_doc_shingles(df, id_col, text_col, n))
    gram_docs = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("_ndocs")
    )
    per_doc = (
        sh.join(gram_docs, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("_grams"),
            F.sum(F.when(F.col("_ndocs") == 1, 1).otherwise(0)).alias(
                "_unseen"
            ),
        )
    )
    # LEFT join from the doc frame: documents too short to emit any
    # n-gram still count in n_docs (a short-doc-heavy source must not
    # vanish from the report); they contribute zero gram mass
    grams = F.sum(F.coalesce("_grams", F.lit(0)))
    unseen = F.sum(F.coalesce("_unseen", F.lit(0)))
    return (
        df.select(id_col, group_col)
        .join(per_doc, id_col, "left")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            grams.cast("long").alias("grams_total"),
            unseen.cast("long").alias("grams_unique_to_doc"),
            F.round(
                F.when(grams > 0, unseen / grams.cast("double")), 6
            ).alias("novelty"),
        )
    )


def zipf_slope_by_source(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source Zipf slope — the log-log OLS fit of token frequency
    on frequency rank, the corpus-naturalness diagnostic (natural
    language sits near −1; machine-generated/templated text flattens
    or steepens it; Piantadosi 2014). Rank is (count DESC, token) —
    deterministic ties — and the slope is the closed-form OLS
    cov(ln r, ln f)/var(ln r) over the source's vocabulary.

    The log terms are IEEE doubles summed per source (same class as
    ``token_kl_by_source``'s KL sum — term magnitudes keep the
    accumulated float noise ~1e-12, far inside the round-4 display);
    the rank window is keyed by source over the per-source vocabulary
    aggregate (value-cardinality-sized, the whitelisted family).
    Output: (source, vocab_size, zipf_slope).
    """
    from pyspark.sql import Window

    freq = (
        df.select(
            F.col(group_col), F.explode(word_tokens(text_col)).alias("_t")
        )
        .filter(F.col("_t") != "")
        .groupBy(group_col, "_t")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("_c").desc(), F.col("_t")
    )
    ranked = freq.select(
        group_col,
        F.log(F.row_number().over(w).cast("double")).alias("_lr"),
        F.log(F.col("_c").cast("double")).alias("_lf"),
    )
    agg = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_lr").alias("_sr"),
        F.sum("_lf").alias("_sf"),
        F.sum(F.col("_lr") * F.col("_lr")).alias("_srr"),
        F.sum(F.col("_lr") * F.col("_lf")).alias("_srf"),
    )
    n = F.col("_n").cast("double")
    den = n * F.col("_srr") - F.col("_sr") * F.col("_sr")
    slope = (n * F.col("_srf") - F.col("_sr") * F.col("_sf")) / den
    return agg.select(
        group_col,
        F.col("_n").cast("long").alias("vocab_size"),
        # vocab_size 1 → zero rank variance → slope undefined: NULL,
        # not NaN (the ANSI discipline the two-sample stats follow)
        F.round(F.when(den != 0.0, slope), 4).alias("zipf_slope"),
    )


def token_burstiness_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
) -> DataFrame:
    """Burstiness of the corpus's top-k tokens (Church & Gale 1995):
    collection frequency over document frequency — cf/df = 1 means a
    token appears at most once wherever it appears (function-word
    behavior); cf/df >> 1 means its occurrences CLUMP into few
    documents (topical or template/boilerplate behavior). The
    token-level companion to the Gopher repetition rules: a
    high-burstiness high-rank token is usually markup or boilerplate.

    Exact integers throughout (cf, df), one division rounded at 4;
    ranking is (cf DESC, token) so the top-k set is deterministic.

    Scale shape: one explode into a (token, doc) frame, ONE hash
    aggregate keyed on token computing cf and df together (distinct
    doc-count via the two-level (token, doc) pre-aggregate, both with
    map-side partials), then a map-side partial top-k
    (TakeOrderedAndProject) — the vocabulary never sorts globally.
    """
    pairs = (
        df.select(
            F.col(id_col), F.explode(word_tokens(text_col)).alias("_t")
        )
        .filter(F.col("_t") != "")
        .groupBy("_t", id_col)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    stats = pairs.groupBy("_t").agg(
        F.sum("_c").alias("_cf"),
        F.count(F.lit(1)).alias("_df"),
    )
    return (
        stats.orderBy(F.col("_cf").desc(), F.col("_t"))
        .limit(int(k))
        .select(
            F.col("_t").alias("token"),
            F.col("_cf").cast("long").alias("cf"),
            F.col("_df").cast("long").alias("df"),
            F.round(F.col("_cf") / F.col("_df").cast("double"), 4).alias(
                "burstiness"
            ),
        )
    )


def heaps_law_fit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_checkpoints: int = 10,
) -> DataFrame:
    """Heaps-law vocabulary-growth fit: distinct-type count as a
    function of cumulative token count over a deterministic corpus
    order, plus the log-log OLS fit V ≈ k·Nᵝ — the companion readout
    to ``zipf_slope_by_source`` (natural language sits near β≈0.5;
    β→1 is non-repeating/ID-like text, β→0 a closed template
    vocabulary). Planners use it to extrapolate tokenizer vocabulary
    pressure from a sample to the full 100 TB corpus.

    The corpus order is doc_id ascending, checkpointed into
    ``n_checkpoints`` equal-width doc_id range buckets (pure integer
    arithmetic off the 1-row min/max frame — no rank pass). Cumulative
    tokens per checkpoint are prefix sums of per-bucket token mass;
    cumulative types use the first-occurrence trick: each type counts
    in the bucket of its MINIMUM doc_id, so a prefix sum over the
    K-row bucket frame equals the exact running distinct-type count —
    no cumulative-distinct window over the corpus, ever.

    Exactness: bucket assignment, token mass and type counts are exact
    integers; ln() terms are IEEE doubles over those integers summed
    across ≤K points (the zipf_slope noise class, far inside round-4).

    Scale shape: one explode → (token, min-doc-id) hash aggregate with
    map-side partial min; one per-doc token-count aggregate; both
    reduce to K rows before any window — the prefix sums and the OLS
    moments run on the K-row checkpoint frame, and the min/max bounds
    ride in on a broadcast 1-row cross join.

    Output: K rows — (checkpoint, cum_tokens, cum_types, heaps_beta,
    heaps_k) with the fit repeated per row.
    """
    from pyspark.sql import Window as W

    from .layout import range_checkpoint_bucket

    bounds, bucket = range_checkpoint_bucket(df, id_col, n_checkpoints)

    toks = df.select(
        F.col(id_col), F.explode(word_tokens(text_col)).alias("_t")
    ).filter(F.col("_t") != "")
    # per-doc token counts need no explode+shuffle: size(filter(...))
    # is map-only and row-identical to the former
    # explode→groupBy(id)→count (docs with zero non-empty tokens —
    # incl. NULL text, where ANSI size() yields NULL (-1 legacy) —
    # produced no group row before). The no-token exclusion is a
    # PRE-filter on the raw text: a non-whitespace character exists
    # exactly when the \s+ split yields >= 1 non-empty token (NULL
    # text -> NULL -> dropped; whitespace-only text such as "\t" ->
    # dropped), so it is row-identical to filter(_n_tok > 0) — which
    # the optimizer pushed below the Project, substituting the whole
    # tokenize-HOF into the predicate and evaluating it twice per row
    # (the round-13 filter-under-Project lesson; greatest() stays as
    # the NULL/-1 belt against exotic inputs).
    doc_tokens = df.filter(
        (F.col(text_col) if isinstance(text_col, str) else text_col).rlike(r"\S")
    ).select(
        F.col(id_col),
        F.greatest(
            F.size(F.filter(word_tokens(text_col), lambda t: t != "")),
            F.lit(0),
        ).alias("_n_tok"),
    )
    tok_by_bucket = (
        doc_tokens.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("_b"), "_n_tok")
        .groupBy("_b")
        .agg(F.sum("_n_tok").alias("_tok"))
    )
    first_doc = toks.groupBy("_t").agg(F.min(id_col).alias(id_col))
    typ_by_bucket = (
        first_doc.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("_b"))
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_typ"))
    )
    wcum = W.orderBy("_b").rowsBetween(W.unboundedPreceding, 0)
    cum = (
        tok_by_bucket.join(typ_by_bucket, "_b", "left")
        .select(
            "_b",
            F.sum("_tok").over(wcum).alias("_ct"),
            F.sum(F.coalesce(F.col("_typ"), F.lit(0)))
            .over(wcum)
            .alias("_cv"),
        )
        .filter((F.col("_ct") > 0) & (F.col("_cv") > 0))
    )
    from .dedup import _shared

    # pts is a ≤K-row frame consumed by BOTH the OLS fit aggregate and
    # the output projection — without the checkpoint each consumer
    # re-derived the whole corpus subtree (measured r12: 4 parquet
    # scans / 21 exchanges in the before-plan)
    pts = _shared(cum.select(
        "_b",
        "_ct",
        "_cv",
        F.log(F.col("_ct").cast("double")).alias("_x"),
        F.log(F.col("_cv").cast("double")).alias("_y"),
    ))
    fit = pts.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    n = F.col("_n").cast("double")
    den = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    beta = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / den
    intercept = (F.col("_sy") - beta * F.col("_sx")) / n
    return (
        pts.crossJoin(F.broadcast(fit))
        .select(
            F.col("_b").cast("int").alias("checkpoint"),
            F.col("_ct").cast("long").alias("cum_tokens"),
            F.col("_cv").cast("long").alias("cum_types"),
            F.round(F.when(den != 0.0, beta), 4).alias("heaps_beta"),
            F.round(F.when(den != 0.0, F.exp(intercept)), 4).alias(
                "heaps_k"
            ),
        )
        .orderBy("checkpoint")
    )


def readability_profile(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group Flesch reading ease / Flesch–Kincaid grade from
    exact surface counts — the classic text-complexity quality signal
    (very low ease = boilerplate/code/legalese; a grade-level shift
    between sources flags register drift before it skews a training
    mixture).

    Counts are engine-portable regex aggregates: words are non-empty
    whitespace tokens, sentences are runs of ``[.!?]`` (floored at 1
    per document), and syllables use the standard vowel-GROUP proxy
    (runs of ``[aeiouyAEIOUY]``) — a documented approximation, exact
    as an integer so both engines agree bit-for-bit; the Flesch
    formulas are then two fixed IEEE expressions per group over
    integer sums, rounded at 4.

    Scale shape: map-only per-document regex counts (JVM regex, no
    UDF), one group-keyed aggregate with map-side partials —
    |groups| output rows.

    Output: (group, n_docs, n_words, n_sentences, n_syllables,
    words_per_sentence, syllables_per_word, flesch_reading_ease,
    fk_grade).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = nonempty_token_count(text_col)
    sentences = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1))
    syllables = F.regexp_count(t, F.lit(r"[aeiouyAEIOUY]+"))
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(words).cast("long").alias("n_words"),
        F.sum(sentences).cast("long").alias("n_sentences"),
        F.sum(syllables).cast("long").alias("n_syllables"),
    )
    wps = F.col("n_words") / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables") / F.col("n_words").cast("double")
    return agg.select(
        group_col,
        "n_docs",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(wps, 4).alias("words_per_sentence"),
        F.round(spw, 4).alias("syllables_per_word"),
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4
        ).alias("flesch_reading_ease"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 4
        ).alias("fk_grade"),
    )


def source_diversity_profile(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Corpus-level source-diversity indices over TOKEN mass: Shannon
    entropy (nats), its exponential (the "effective number of
    sources" — the single number mixture governance tracks: 10
    sources at effective-count 1.4 is a monoculture), the Simpson
    index Σp² (collision probability: the chance two random tokens
    come from the same source), its inverse, and the top source's
    share. The diversity dashboard row a 100 TB mixture re-checks
    after every ingest wave.

    Token masses are exact integers; p_s are single divisions,
    entropy sums ≤ |sources| ln terms (zipf float class, round 6).

    Scale shape: one map-only token count, one group aggregate, then
    everything runs on the |sources|-row frame with a 1-row total
    broadcast back — aggregate-sized end to end.

    Output: 1 row — (n_sources, total_tokens, shannon_entropy,
    effective_sources, simpson, inv_simpson, top_source_share).
    """
    per = df.groupBy(group_col).agg(
        F.sum(nonempty_token_count(text_col)).cast("long").alias("_m")
    )
    tot = per.agg(
        F.sum("_m").alias("_tot"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.max("_m").alias("_max_m"),
    )
    p = F.col("_m") / F.col("_tot").cast("double")
    ent = per.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.when(p > 0.0, -p * F.log(p)).otherwise(0.0)).alias("_h"),
        F.sum(p * p).alias("_simpson"),
        F.max("n_sources").alias("n_sources"),
        F.max("_tot").cast("long").alias("total_tokens"),
        F.max(F.col("_max_m") / F.col("_tot").cast("double")).alias(
            "_top"
        ),
    )
    return ent.select(
        "n_sources",
        "total_tokens",
        F.round("_h", 6).alias("shannon_entropy"),
        F.round(F.exp("_h"), 6).alias("effective_sources"),
        F.round("_simpson", 6).alias("simpson"),
        F.round(
            F.when(F.col("_simpson") > 0.0, 1.0 / F.col("_simpson")), 6
        ).alias("inv_simpson"),
        F.round("_top", 6).alias("top_source_share"),
    )


def quality_classifier_score(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bias_micro: int = 0,
    keep_logit_micro: int = 0,
) -> DataFrame:
    """Broadcast LINEAR quality classifier (the fastText/CCNet-style
    stage of a pretraining-curation funnel, à la GPT-3's quality
    filtering): tokenize each document, join a small broadcast
    (token, weight) table learned OFFLINE, and score
    z = bias + Σ_occurrences w(token), keep = sigmoid(z) ≥ threshold.
    The model ships as a LITERAL frame (top-N weights exported from an
    offline trainer), so scoring 100 TB is one map-side broadcast
    hash join + one groupBy on the doc key — the corpus text never
    shuffles, and there is no model server in the loop.

    Exactness discipline: ``weights.weight_micro`` and ``bias_micro``
    are INTEGER MICRO-UNITS (weight·10⁶), so the per-doc logit
    accumulates as an exact BIGINT in any summation order and on any
    engine; the float logit is ONE IEEE division (micro/10⁶) and the
    sigmoid one exp+division rounded at 6. The keep decision compares
    the INTEGER logit against ``keep_logit_micro``
    (= round(logit(threshold)·10⁶), 0 for threshold 0.5) — pure
    integer, so the cut is bit-exact cross-engine even when the score
    sits on the boundary.

    NULL text coalesces to '' (zero matched tokens, logit = bias) so
    every input document is scored. Tokens are lowercased before the
    weight lookup.

    Output: (id, matched_tokens, logit_micro, logit, score, keep) —
    one row per input document.
    """
    toks = (
        df.select(
            F.col(id_col),
            F.explode(
                F.split(
                    F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"
                )
            ).alias("_tok"),
        )
        .filter(F.col("_tok") != "")
        .select(id_col, F.lower(F.col("_tok")).alias("_tok"))
    )
    w = weights.select(
        F.col("token").alias("_tok"),
        F.col("weight_micro").cast("long").alias("_w"),
    )
    per = (
        toks.join(F.broadcast(w), "_tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("matched_tokens"),
            F.sum("_w").cast("long").alias("_wsum"),
        )
    )
    lm = (
        F.coalesce(F.col("_wsum"), F.lit(0).cast("long"))
        + F.lit(int(bias_micro)).cast("long")
    )
    logit = F.col("logit_micro").cast("double") / F.lit(1000000.0)
    return (
        df.select(id_col)
        .join(per, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(
                F.col("matched_tokens"), F.lit(0).cast("long")
            ).alias("matched_tokens"),
            lm.alias("logit_micro"),
        )
        .select(
            id_col,
            "matched_tokens",
            "logit_micro",
            F.round(logit, 6).alias("logit"),
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6
            ).alias("score"),
            (
                F.col("logit_micro") >= F.lit(int(keep_logit_micro))
            ).alias("keep"),
        )
    )

"""Deduplication operators for large-scale training-data pipelines.

Three tiers, all Spark-first:

- **Exact** (`exact_dedup`): hash-groupBy on the content columns. One
  shuffle on the dedup key; at 100 TB the shuffle carries one row per
  distinct value thanks to partial aggregation.
- **Exact n-gram Jaccard** (`ngram_jaccard_pairs`): explode shingles →
  self-equi-join on shingle → per-pair intersection counts. Exact but
  quadratic in the worst case — this is the *verification* path. The
  shingle join key keeps the shuffle hash-partitioned; a hot shingle
  (stopword trigram) is the skew risk, so shingles are distinct-ed per
  doc first and (optionally) frequency-capped.
- **MinHash LSH** (`minhash_near_dup_pairs`): shingles → binary
  HashingTF vector → MinHashLSH approxSimilarityJoin. The scale path:
  candidate generation is banded hashing, cost ~O(n · bands), no
  all-pairs shuffle. Approximate (may miss pairs near the threshold),
  hence kept out of the oracle set — the exact operator above is its
  correctness reference on small SF.

The reference has no dedup (SURVEY §2.4 note: "distinct/dropDuplicates
absent"); these are the driver-mandated LLM-pipeline extensions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import word_tokens


def drop_common_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_line_docs: int = 2,
    out_col: str = "text_deduped",
) -> DataFrame:
    """Cross-document LINE dedup (the C4/RefinedWeb boilerplate filter):
    drop every line that appears in more than ``max_line_docs``
    distinct documents (nav bars, cookie banners, license footers),
    reassembling each document's surviving lines in original order.

    Output: (id, out_col, n_lines, n_dropped). Documents whose lines
    are all dropped keep an empty string.

    Plan shape (scales to any corpus): posexplode lines → distinct-doc
    count per line via two partial-agg shuffles keyed on the 8-byte
    ``xxhash64(line)`` — the payload line never rides the count
    shuffle — broadcast-or-shuffle join of the (hash, doc-count) frame
    back onto the line rows (Zipf: common lines are FEW distinct
    values, so the count frame is small even on huge corpora), then
    one groupBy on the document key re-assembling with an
    order-preserving sorted ``array_agg``. No UDF, no driver work.

    A 64-bit hash collision would merge two distinct lines' doc-counts
    (over-drop); at ~10^12-line corpora expect a handful — acceptable
    for a boilerplate filter (drops are lossy by design). A
    collision-free variant would key the count on the line itself at
    ~linewidth/8 × the shuffle cost.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("_lh", F.xxhash64("line"))
    line_docs = lines.groupBy("_lh").agg(
        F.countDistinct(id_col).alias("_ndocs")
    )
    kept = (
        lines.join(line_docs, "_lh")
        .withColumn("_drop", F.col("_ndocs") > max_line_docs)
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("_drop"),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s.getField("line"),
                ),
            ).alias(out_col),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("_drop").cast("int")).alias("n_dropped"),
        )
    )


def shared_substring_runs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_run: int = 10,
    max_gram_df: int | None = None,
) -> DataFrame:
    """EXACT cross-document duplicated-substring detection (the
    token-level analog of Lee et al. 2021's suffix-array substring
    dedup, which winnowing approximates): for every document pair,
    the longest run of consecutive identical tokens, reported when it
    reaches ``min_run`` tokens. Output: (doc_a, doc_b, max_run,
    n_runs) with doc_a < doc_b.

    Relational formulation — no suffix array needed at the token
    granularity: positional ``k``-grams joined on gram value put every
    shared window on a (pair, diagonal = pos_a − pos_b) line; maximal
    runs are the consecutive-position islands on each diagonal
    (pos_a − row_number() island key — the standard gaps-and-islands
    rewrite), and a run of j consecutive shared windows covers
    j + k − 1 tokens.

    Scale shape: the gram join is an equi-join keyed by the gram (hot
    grams capped via ``max_gram_df`` exactly like the Jaccard
    operator's shingle guard); islands need one window over
    (pair, diagonal) — key-partitioned; the final agg is on the pair
    key. No UDF, no driver work.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col), toks.alias("_t"), F.size(toks).alias("_n"))
    grams = base.filter(F.col("_n") >= k).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("_n") - (k - 1)),
                lambda i: F.array_join(F.slice(F.col("_t"), i, k), " "),
            )
        ).alias("pos", "g"),
    )
    if max_gram_df is not None:
        hot = (
            grams.groupBy("g")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_gram_df)
            .select("g")
        )
        grams = grams.join(F.broadcast(hot), "g", "left_anti")
    # both sides of the positional-gram self-join consume `grams`:
    # without the shared materialization each side re-derives the
    # document scan + tokenize + posexplode (2 identical branches in
    # the r12 before-plan). The checkpointed frame is the slim
    # (id, pos, gram) proxy, never the document payload.
    grams = _shared(grams)
    a = grams.select(F.col(id_col).alias("doc_a"), F.col("pos").alias("pa"), "g")
    b = grams.select(F.col(id_col).alias("doc_b"), F.col("pos").alias("pb"), "g")
    m = (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = W.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (
        m.withColumn("island", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "island")
        .agg((F.count(F.lit(1)) + F.lit(k - 1)).alias("run_len"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            F.max("run_len").cast("int").alias("max_run"),
            F.sum(
                (F.col("run_len") >= min_run).cast("int")
            ).cast("bigint").alias("n_runs"),
        )
        .filter(F.col("max_run") >= min_run)
    )


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep one row (minimum ``id_col``) per distinct value of ``cols``,
    with the duplicate count. Deterministic, unlike ``dropDuplicates``
    (which keeps an arbitrary partition-order-dependent row).

    Hash-first at scale: the groupBy key is ``xxhash64(cols)`` — the
    aggregation exchange carries (8-byte key, id) rows, never the
    payload (a payload-keyed groupBy would shuffle and compare full
    documents). Exactness is preserved by a second independent hash:
    a 64-bit collision between DIFFERENT payloads would make the check
    hashes disagree within a group (min != max), which raises at
    execution time instead of silently merging distinct documents
    (joint false-negative odds ~n²/2^128 — unreachable). Payloads
    re-enter via one join of the surviving keeper ids against the
    source — at warehouse scale that side is the table bucketed by
    ``id_col``, making the keeper join shuffle-free on the big side.

    NULL columns: Spark's xxhash64 SKIPS null inputs (the running seed
    passes through unchanged), so hashing the raw columns would merge
    e.g. ("x", NULL) with (NULL, "x"). Each column therefore
    contributes an explicit is-null marker alongside its value, making
    the null pattern part of the key — groupBy(*cols)'s null semantics
    (NULLs equal, position significant) are preserved exactly.
    """
    keyed = []
    for c in cols:
        keyed.append(F.isnull(c).cast("int"))
        keyed.append(F.col(c))
    fp = F.xxhash64(*keyed)
    chk = F.xxhash64(F.lit("dedup-chk"), *keyed)
    keepers = (
        df.select(fp.alias("_fp"), chk.alias("_chk"), F.col(id_col))
        .groupBy("_fp")
        .agg(
            F.min(id_col).alias("_keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("_chk").alias("_chk_lo"),
            F.max("_chk").alias("_chk_hi"),
        )
        # the filter is never pruned (unlike a dropped projection), so
        # the collision guard always executes; min/max are decomposable
        # (no count_distinct Expand blow-up in the exchange)
        .filter(
            F.when(
                F.col("_chk_lo") != F.col("_chk_hi"),
                F.raise_error(
                    "exact_dedup: xxhash64 collision between distinct "
                    "payloads detected — rerun with a payload-keyed "
                    "groupBy for this dataset"
                ).cast("boolean"),
            ).otherwise(F.lit(True))
        )
        .select("_keep_id", "n_copies")
    )
    return (
        df.select(*cols, F.col(id_col))
        .join(keepers, F.col(id_col) == F.col("_keep_id"))
        .select(*cols, F.col(id_col), F.col("n_copies"))
    )


def _positional_grams(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, pos, gram) — every word n-gram with its start position.

    Relational formulation: tokenize ONCE via posexplode, then form
    n-gram windows with ``lead()`` over (doc, position). The array-
    expression alternative (transform/slice over ``word_tokens``)
    re-executes the regex split per produced shingle — Catalyst has no
    let-binding, so the split subexpression is inlined into every
    lambda element; measured ~5s for 5k docs vs sub-second here. One
    shuffle on id (the window), which downstream groupBys reuse. Shared
    by the Jaccard/MinHash shingle path (set semantics via distinct)
    and winnowing (positional semantics).
    """
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.trim(text_col), r"\s+")).alias("pos", "tok"),
    )
    w = W.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    return (
        toks.select(
            F.col(id_col),
            F.col("pos"),
            F.concat_ws(" ", *parts).alias("gram"),
            parts[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select(id_col, "pos", "gram")
    )


def _doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) pairs, distinct per doc (set semantics for
    Jaccard).

    Formulation (optimization round 12): tokenize ONCE into a
    LET-BOUND array column — a separate Project whose ``_toks`` alias
    is referenced three times, which keeps CollapseProject from
    inlining the regex split back into the per-shingle lambda
    (Catalyst has no let-binding; an inlined split re-executes per
    generated shingle, the trap ``_positional_grams`` documents) —
    then generate shingles with slice/array_join over that array and
    explode. Output is row-identical to the previous posexplode +
    lead-window formulation (verified against every shingle oracle),
    but generation is now MAP-ONLY: the window's full token-stream
    shuffle + per-doc sort are gone, and the only exchange left is the
    ``distinct``. At 100 TB that deletes one corpus-wide shuffle from
    every shingle consumer (guide §2.4)."""
    toks = F.split(F.trim(F.col(text_col) if isinstance(text_col, str) else text_col), r"\s+")
    base = df.select(F.col(id_col), toks.alias("_toks"))
    gen = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_toks")) - (n - 1)),
        lambda i: F.array_join(F.slice(F.col("_toks"), i, n), " "),
    )
    guarded = F.when(F.size(F.col("_toks")) >= n, gen).otherwise(
        F.array().cast("array<string>")
    )
    return base.select(
        F.col(id_col), F.explode(guarded).alias("shingle")
    ).distinct()


def _shared(frame: DataFrame) -> DataFrame:
    """Materialize a subtree consumed by SEVERAL downstream branches
    exactly once: a LAZY ``localCheckpoint`` (computed on the query's
    first action, reused by every consumer; blocks are
    MEMORY_AND_DISK-spillable and released by Spark's ContextCleaner
    when the frame is garbage-collected — no unpersist point needed,
    unlike ``.persist()`` whose CacheManager entry pins the plan for
    the session).

    Why: Catalyst re-derives a reused DataFrame subtree per consumer —
    measured in this repo's round-12 plans as 12 parquet scans of the
    corpus in ``minhash_banded_pairs`` and 14 in
    ``blocking_quality_report`` (ReuseExchange cannot dedupe them:
    column pruning makes each consumer's exchange child differ). With
    the shingle stream checkpointed, the corpus is read and tokenized
    ONCE per query. At production scale this is guide §8's "compute
    the decision data once" discipline — the materialized frame is the
    slim (id, shingle)/(id, signature) proxy, never the document
    payload. Lazy (not eager) so that plan building, ``explain`` and
    the plan audit stay free of side effects.

    Cluster-deployment caveat: ``localCheckpoint`` is a
    NON-RELIABLE checkpoint — lineage is truncated, so losing an
    executor that holds checkpoint blocks (node failure,
    dynamic-allocation decommission) fails the job instead of
    recomputing. Fine for a single-node harness and for clusters with
    ``spark.decommission.enabled`` block migration; deployments with
    aggressive dynamic allocation should swap this body for
    ``.persist(StorageLevel.MEMORY_AND_DISK)`` (recomputable, at the
    cost of CacheManager pinning the plan for the session) or a
    reliable ``checkpoint()`` to the cluster checkpoint dir."""
    return frame.localCheckpoint(eager=False)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS rolling-hash scheme):
    hash every word k-gram by position, slide a ``window`` of
    consecutive k-gram hashes, select each window's MINIMUM hash, and
    emit the distinct selections as the doc's fingerprint set —
    (doc_id, fingerprint).

    The winnowing guarantee: every run of ``window`` consecutive
    k-grams contributes at least one selected fingerprint, so any
    shared substring of length ≥ k + window − 1 words between two
    documents yields at least one SHARED fingerprint — the property
    copy-detection needs and plain min-hashing lacks. Density is
    ~2/(window+1) of all k-grams.

    Relational shape: the shared ``_positional_grams`` builder (one
    shuffle on id), a rolling-min frame over the same partitioning
    (reused exchange), then distinct.

    The gram order is ``md5`` of the gram text: any deterministic
    pseudo-random order satisfies winnowing, and md5's is one every
    engine agrees on, so a SQL engine can reproduce the selection
    exactly (the ``winnow_fingerprints_md5`` oracle).
    """
    grams = _positional_grams(df, id_col, text_col, k).select(
        F.col(id_col), F.col("pos"), F.md5("gram").alias("_gh")
    )
    rolling = W.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    return (
        grams.select(
            F.col(id_col), F.min("_gh").over(rolling).alias("fingerprint")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing ≥1 shingle.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b and
    jaccard ≥ threshold. |A∩B| comes from the shingle self-join,
    |A∪B| = |A|+|B|−|A∩B| from per-doc shingle counts (broadcast-joined
    back — the sizes table is one row per doc, tiny relative to pairs).

    ``max_shingle_df`` is the hot-shingle skew guard: a shingle present
    in d documents contributes d² rows to the self-join, so one
    stopword trigram ("of the and") in every doc degenerates the join
    to all-pairs on a single skewed key. With the cap set, shingles
    whose document frequency exceeds it are dropped BEFORE the join
    (one slim count aggregate + a broadcast anti-join), bounding any
    key's contribution to cap² rows. Jaccard is then computed on the
    capped shingle sets (sizes included) — self-consistent, and the
    standard trade for near-dup detection: ubiquitous shingles carry
    no discriminating signal. Default None = exact semantics (the
    oracle-checked configuration).
    """
    sh = _shared(_doc_shingles(df, id_col, text_col, n))
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))

    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def benchmark_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share any
    word ``n``-gram with an evaluation/benchmark set — the standard
    guard against test-set leakage into training data. Returns one row
    per corpus document: (id, n_hits, contaminated), where ``n_hits``
    counts the document's DISTINCT n-grams that appear anywhere in the
    benchmark.

    Scale shape: eval sets are tiny relative to a 100 TB corpus, so the
    benchmark's distinct grams are the BROADCAST side; the corpus gram
    stream is filtered map-side by the broadcast hash join and only
    (id, gram) hits reach the per-doc count — corpus text itself never
    shuffles. The final left join against the id spine is the only
    corpus-wide shuffle, on an 8-byte key.
    """
    bench_grams = (
        _doc_shingles(
            benchmark,
            bench_id_col or id_col,
            bench_text_col or text_col,
            n,
        )
        .select("shingle")
        .distinct()
    )
    hits = (
        _doc_shingles(corpus, id_col, text_col, n)
        .join(F.broadcast(bench_grams), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hash_tables: int = 8,
    num_features: int = 1 << 18,
) -> DataFrame:
    """Approximate near-duplicate pairs via MinHash LSH (the 100 TB path).

    shingle set → binary HashingTF vector (feature space 2^18) →
    ``MinHashLSH(numHashTables=8)`` → ``approxSimilarityJoin`` at
    Jaccard distance ≤ 1−threshold. Candidate pairs are generated by
    hash-band bucket joins, so cost scales with collisions, not n².
    Returns (doc_a, doc_b, jaccard_est). With 8 OR-amplified tables the
    candidate recall at jaccard=s is 1−(1−s)^8 (99.6% at s=0.5);
    measured recall vs the exact operator is 1.0 on the planted
    near-dups at sf0.01.

    Generalizes the reference's one custom similarity operator — the
    broadcast kNN (knn_classification.py:124-164) — to set similarity.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # Let-bound token array (same discipline as _doc_shingles): the
    # single-expression shingle-array form would re-execute the regex
    # split per generated shingle. The shingle array itself is built
    # in a separate Project so HashingTF sees a plain column.
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col), toks.alias("_toks"))
    gen = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_toks")) - (n - 1)),
        lambda i: F.array_join(F.slice(F.col("_toks"), i, n), " "),
    )
    # filter on the TOKEN count, BEFORE the generator projection —
    # row-identical to the former filter(size(sh) > 0) over a guarded
    # gen (gen yields size-n+1 >= 1 shingles iff size >= n), but the
    # optimizer pushed that filter below the Project, substituting the
    # whole shingle-HOF into the predicate: the generator ran TWICE
    # per row and fell off codegen (measured 3.48 -> 0.41 s noop at
    # sf0.1, optimization round 13)
    docs = base.filter(F.size("_toks") >= n).select(
        F.col(id_col), gen.alias("sh")
    )
    tf = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=num_features, binary=True
    )
    # approxSimilarityJoin(feat, feat) consumes the hashed frame on
    # BOTH sides; materialize it once (lazy localCheckpoint) so the
    # tokenize + HashingTF + MinHash subtree is not re-derived per side.
    # Slimmed to (id, features): the shingle ARRAY otherwise rides
    # through MLlib's explode + join + fat-row distinct on both sides
    # (guide §2.3 — shuffle only the columns the consumer needs).
    feat = _shared(tf.transform(docs).select(F.col(id_col), "features"))
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42
    )
    model = lsh.fit(feat)
    pairs = model.approxSimilarityJoin(
        feat, feat, 1.0 - threshold, distCol="jaccard_dist"
    )
    return (
        pairs.select(
            F.col(f"datasetA.{id_col}").alias("doc_a"),
            F.col(f"datasetB.{id_col}").alias("doc_b"),
            F.round(1.0 - F.col("jaccard_dist"), 4).alias("jaccard_est"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
    )


def minhash_estimate_calibration(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.3,
    n_hashes: int = 16,
) -> DataFrame:
    """Estimator calibration for MinHash: per near-dup pair, the
    H-slot MinHash Jaccard ESTIMATE next to the exact Jaccard — the
    readout that tells a curation stack whether its signature width is
    adequate before trusting banding thresholds at 100 TB (E[estimate]
    = J; sd = sqrt(J(1-J)/H) ≈ 0.125 at J=0.5, H=16).

    Hashes are md5 over a salted shingle (``"{slot}-{shingle}"``), min
    taken over the md5 HEX STRING — every piece is engine-portable,
    so a SQL oracle recomputes signature, estimate, and exact Jaccard
    end-to-end: this certifies the estimator MATH cross-engine, not
    just the pair set (the xxhash64 production path in
    ``minhash_banded_pairs`` trades that portability for speed).

    Estimates are exact multiples of 1/H — dyadic, so the 4-decimal
    display rounding is representation-exact in both engines.

    Scale shape: signatures are one grouped aggregate over exploded
    shingles (map-side partial min per slot); the pair set and exact
    Jaccard reuse the candidate-join shape; the estimate join touches
    pairs only."""
    sh = _shared(_doc_shingles(df, id_col, text_col, n))
    sigs = _shared(
        sh.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("_n_sh"),
            *[
                F.min(
                    F.md5(F.concat(F.lit(f"{i}-"), F.col("shingle")))
                ).alias(f"_mh{i}")
                for i in range(n_hashes)
            ],
        )
    )
    sh_a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        sh_a.join(sh_b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sa = sigs.select(
        F.col(id_col).alias("doc_a"),
        F.col("_n_sh").alias("_na"),
        *[F.col(f"_mh{i}").alias(f"_a{i}") for i in range(n_hashes)],
    )
    sb = sigs.select(
        F.col(id_col).alias("doc_b"),
        F.col("_n_sh").alias("_nb"),
        *[F.col(f"_mh{i}").alias(f"_b{i}") for i in range(n_hashes)],
    )
    matches = None
    for i in range(n_hashes):
        term = F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    jac = F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round(jac, 4).alias("jaccard"),
            F.round(matches / float(n_hashes), 4).alias("estimate"),
        )
    )


def lsh_banding_planner(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    jaccard_floor: float = 0.3,
    target_threshold: float = 0.7,
    grid: tuple = ((128, 1), (64, 2), (32, 4), (16, 8), (8, 16), (4, 32)),
) -> DataFrame:
    """LSH banding parameter planner — the closed-form S-curve readout
    that picks (bands b, rows-per-band r) BEFORE committing a 100 TB
    MinHash pass: for each grid point, the collision probability of a
    pair with Jaccard j is p(j) = 1 − (1 − j^r)^b (Leskovec/Rajaraman/
    Ullman ch.3), the curve's ~50% crossover sits at (1/b)^(1/r), and
    the expected candidate mass comes from the OBSERVED Jaccard
    histogram of the corpus's near-dup pairs (exact shingle-set
    Jaccard, the ``minhash_estimate_calibration`` join) — splitting
    expected collisions into true (j ≥ target) and false
    (j < target) bands. ``recommended`` marks the grid point whose
    crossover lands closest to the target threshold.

    The observable pair population is floored at ``jaccard_floor``
    (pairs below it never co-occur on enough shingles to join) — the
    false-candidate mass is therefore a LOWER bound; the sub-floor
    tail is exactly the mass banding is designed to never surface.

    Cross-engine exactness: Jaccard is one correctly-rounded division
    of exact integers; buckets use floor(j·100)/100 (exact double
    steps, no round-half ties); every probability is the same literal
    pow() expression tree both engines evaluate on identical doubles,
    displayed at round 6/4. Grid b, r are powers of two so 1/b and
    1/r are dyadic-exact.

    Scale shape: one shingle equi-join for the pair histogram (the
    calibration shape, candidate-bounded), then everything downstream
    is the |buckets|-row histogram cross the |grid|-row plan frame —
    aggregate-sized; the corpus itself is touched once. The histogram
    join's cost tracks the observable near-dup PAIR MASS — linear in
    corpus size at fixed dup density (each shingle key's document
    frequency, not the corpus, sets the per-key fanout): on a 10x
    row-replicated sf0.1 corpus it took 7.9x the base time
    (2.9 s -> 23.3 s).

    Output: one row per (grid point × observed bucket): (b, r,
    s_curve_threshold, p_at_target, recommended, j_bucket, n_pairs,
    p_collide, expected_candidates, counts_toward_false).
    """
    sh = _shared(_doc_shingles(df, id_col, text_col, n))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n_sh"))
    sh_a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        sh_a.join(sh_b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("_n_sh").alias("_na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("_n_sh").alias("_nb"))
    jac = F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter"))
    hist = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= float(jaccard_floor))
        .select((F.floor(jac * 100) / 100.0).alias("j_bucket"))
        .groupBy("j_bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    spark = df.sparkSession
    gdf = spark.createDataFrame(list(grid), "b int, r int")
    t0 = float(target_threshold)
    thr = F.round(F.pow(1.0 / F.col("b"), 1.0 / F.col("r")), 6)
    p_at = F.round(
        F.lit(1.0) - F.pow(F.lit(1.0) - F.pow(F.lit(t0), F.col("r")), F.col("b")),
        6,
    )
    wrec = W.orderBy(F.round(F.abs(thr - F.lit(t0)), 6), F.col("b"))
    gplan = gdf.select(
        "b",
        "r",
        thr.alias("s_curve_threshold"),
        p_at.alias("p_at_target"),
        (F.row_number().over(wrec) == 1).alias("recommended"),
    )
    p_collide = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(F.col("j_bucket"), F.col("r")), F.col("b")
    )
    return gplan.crossJoin(F.broadcast(hist)).select(
        "b",
        "r",
        "s_curve_threshold",
        "p_at_target",
        "recommended",
        "j_bucket",
        "n_pairs",
        F.round(p_collide, 6).alias("p_collide"),
        F.round(F.col("n_pairs") * p_collide, 4).alias("expected_candidates"),
        (F.col("j_bucket") < F.lit(t0)).alias("counts_toward_false"),
    )


def resolve_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a pair graph: every node labeled with
    the minimum id reachable from it. Returns (id_col, canonical_id,
    keep) — ``keep`` marks the deterministic survivor (min id) of each
    duplicate cluster; singletons keep themselves.

    Algorithm: iterative min-label propagation with pointer jumping —
    each round (a) takes the min label over neighbors, (b) shortcuts
    ``label ← label(label)``. The jump halves chain depth per round, so
    convergence is O(log n) joins even for path-shaped graphs (near-dup
    clusters from band-verify pipelines are near-cliques and converge
    in 2-3 rounds). Each round is one equi-join + groupBy plus one
    self-join — all key-partitioned shuffles, no driver data.

    Iteration mechanics at scale: every round ``localCheckpoint``s its
    label frame (eager) to truncate lineage — without it the plan
    doubles per round and Catalyst analysis blows up around round 15.
    Superseded checkpoint blocks are released by Spark's
    ContextCleaner when the superseded frame is garbage collected; the
    returned frame holds only the final (node, label) map (two ids per
    doc) plus this function's non-iterative tail.
    """
    sym = pairs.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"))
    edges = (
        sym.union(sym.select(F.col("_dst").alias("_src"), F.col("_src").alias("_dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = nodes.select(
        F.col(id_col).alias("_node"), F.col(id_col).alias("_label")
    ).localCheckpoint()
    # The cheap sum-based convergence check (below) is exact only for
    # integral/decimal ids; for any other id type (string ids, floats)
    # the cast would NULL out and every round's sum would compare equal
    # — fall back to the join-based changed-count there.
    exact_sum_ok = isinstance(
        labels.schema["_label"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.DecimalType),
    )
    prev_sum = (
        labels.agg(F.sum(F.col("_label").cast("decimal(38,0)"))).first()[0]
        if exact_sum_ok
        else None
    )
    for _ in range(max_iterations):
        nbr_min = (
            edges.join(labels, F.col("_src") == F.col("_node"))
            .groupBy(F.col("_dst").alias("_jnode"))
            .agg(F.min("_label").alias("_nbr"))
        )
        stepped = labels.join(
            nbr_min, F.col("_node") == F.col("_jnode"), "left"
        ).select(
            "_node",
            F.least(F.col("_label"), F.coalesce("_nbr", "_label")).alias("_label"),
        )
        jump = stepped.select(
            F.col("_node").alias("_jn"), F.col("_label").alias("_jl")
        )
        new_labels = (
            stepped.join(jump, F.col("_label") == F.col("_jn"), "left")
            .select("_node", F.coalesce("_jl", "_label").alias("_label"))
            .localCheckpoint()
        )
        # r12 convergence check: min-propagation labels are monotone
        # NON-INCREASING per node (least(label, nbr); jump maps label →
        # label(label) ≤ label), so the label multiset is unchanged iff
        # its exact sum is unchanged. One scan-aggregate over the
        # just-checkpointed frame replaces the old/new equi-join +
        # filter + count that previously shuffled both label frames
        # every iteration. DECIMAL(38,0): exact at any id magnitude ×
        # any corpus cardinality (no float/overflow wobble).
        if exact_sum_ok:
            new_sum = new_labels.agg(
                F.sum(F.col("_label").cast("decimal(38,0)"))
            ).first()[0]
            changed = 0 if new_sum == prev_sum else 1
            prev_sum = new_sum
        else:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), F.col("n._node") == F.col("o._node"))
                .filter(F.col("n._label") != F.col("o._label"))
                .count()
            )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        F.col("_node").alias(id_col),
        F.col("_label").alias("canonical_id"),
        (F.col("_node") == F.col("_label")).alias("keep"),
    )


def near_dup_resolve(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The keep/drop decision the dedup tier exists for: near-dup pair
    detection → connected components → one deterministic survivor
    (min id) per duplicate cluster. Returns (id, canonical_id, keep);
    filtering ``keep`` yields the deduplicated corpus.

    Pairs come from the exact ``ngram_jaccard_pairs``, so a component
    never splits on a missed edge: banded candidates (P[miss] =
    (1-s^r)^b per pair) are close to recall 1 only well above the
    threshold, and callers resolve at thresholds as low as 0.4."""
    pairs = ngram_jaccard_pairs(df, id_col, text_col, n, threshold)
    return resolve_components(
        df.select(id_col), pairs, id_col=id_col, src_col="doc_a", dst_col="doc_b"
    )


def _blocked_hamming_pairs(
    sims: DataFrame, id_col: str, max_hamming: int, n_bits: int
) -> DataFrame:
    """Shared block-and-verify pair join over a (id, simhash) frame:
    split the ``n_bits``-bit signature into ``max_hamming + 1`` blocks
    (pigeonhole → recall 1), equi-join on (block index, block value),
    verify with ``bit_count(xor)``."""
    nb = max_hamming + 1
    base, extra = divmod(n_bits, nb)
    widths = [base + (1 if i < extra else 0) for i in range(nb)]
    offsets = [sum(widths[:i]) for i in range(nb)]

    def _block_value(i: int) -> Column:
        # signatures are at most 62 bits, so even the single block of
        # max_hamming=0 has a mask that fits LongType
        return F.shiftrightunsigned("simhash", offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )

    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("bi"),
                _block_value(i).alias("bv"),
            )
            for i in range(nb)
        ]
    )
    # r12: both join branches (a, b) consume the banded frame — without
    # sharing, the whole signature subtree (token explode + per-bit
    # aggregates for the simhash variants) derives TWICE. One lazy
    # localCheckpoint of the slim (id, simhash, bi, bv) frame halves it.
    banded = _shared(
        sims.select(
            F.col(id_col), F.col("simhash"), F.explode(blocks).alias("b")
        ).select(
            id_col,
            "simhash",
            F.col("b.bi").alias("bi"),
            F.col("b.bv").alias("bv"),
        )
    )
    a = banded.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("_sa"), "bi", "bv"
    )
    b = banded.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("_sb"), "bi", "bv"
    )
    cand = (
        a.join(b, ["bi", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
        .cast("int")
        .alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash): a 60-bit SimHash per document. The token hash is
    the first 15 hex digits of ``md5(token)`` parsed to an integer — an
    engine-agnostic hash any ANSI-SQL engine can recompute, which is
    what makes the SimHash pairs SQL-oracle-checkable. Tokens are
    exploded and hashed ONCE (projection under the aggregate); the 60
    bit positions are bit-test sum aggregates and the sign vector
    re-packs into a long. Scale shape: one shuffle on id, same as any
    groupBy."""
    hv = F.conv(F.substring(F.md5(F.col("_tok")), 1, 15), 16, 10).cast("long")
    toks = df.select(
        F.col(id_col), F.explode(word_tokens(text_col)).alias("_tok")
    ).filter(F.col("_tok") != "")
    hashed = toks.select(id_col, hv.alias("_h"))
    aggs = [
        F.sum(
            F.when(F.col("_h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
        ).alias(f"_b{b}")
        for b in range(60)
    ]
    sums = hashed.groupBy(id_col).agg(*aggs)
    sim = F.lit(0).cast("long")
    for b in range(60):
        sim = sim + F.when(F.col(f"_b{b}") > 0, F.lit(1 << b)).otherwise(
            F.lit(0).cast("long")
        )
    return sums.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_dup_pairs_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 5,
) -> DataFrame:
    """SimHash near-dup pairs with EXACT recall: (doc_a, doc_b, hamming)
    for every pair whose ``simhash_signatures`` Hamming distance is at
    most ``max_hamming``.

    Block-and-verify: the signature splits into ``max_hamming+1``
    blocks — by pigeonhole, any pair within the distance budget agrees
    EXACTLY on at least one block, so the block-key equi-join has
    recall 1 (unlike MinHash banding's probabilistic recall); the
    ``bit_count(xor)`` verify then removes block-collision false
    positives. Scale shape mirrors ``minhash_banded_pairs``: the
    banded frame carries (id, simhash, block) only, the join is
    key-partitioned, verification is a 2-instruction projection.
    """
    sims = simhash_signatures(df, id_col, text_col)
    return _blocked_hamming_pairs(sims, id_col, max_hamming, n_bits=60)


def minhash_banded_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    bands: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Banded MinHash near-dup candidates as PURE DataFrame ops — the
    preferred scale path (no MLlib vector machinery, no Python).

    Signature: for each of ``bands*rows_per_band`` salted hash
    functions, the min of ``xxhash64(salt, shingle)`` over the doc's
    shingle set — computed with JVM higher-order functions inside one
    projection. Band key = hash of its ``rows_per_band`` signature
    slots; candidates join on (band index, band key); candidate pairs
    are then verified with EXACT Jaccard on their shingle sets, so the
    output has no false positives — banding only bounds recall
    (P[candidate] = 1-(1-s^r)^b; r=2, b=8 → 0.96 at s=0.5, ~1.0 at
    s≥0.8).

    At 100 TB: per-doc signatures are one grouped aggregate over the
    exploded shingles (map-side partial min per hash — tiny shuffle);
    the candidate join shuffles ~b rows per doc; the exact-Jaccard
    verify joins touch only candidate pairs.
    """
    # _shared (lazy localCheckpoint, ContextCleaner-released) instead of
    # .persist(): a cache here would outlive the query (no unpersist
    # point) and leak executor storage on every invocation. Without it,
    # the r12 baseline plan re-derived the shingle subtree per consumer
    # — 12 parquet scans of the corpus in this one query.
    sh = _shared(_doc_shingles(df, id_col, text_col, n))

    n_hashes = bands * rows_per_band
    sigs = _shared(
        sh.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("_n_sh"),
            *[
                F.min(F.xxhash64(F.lit(i), "shingle")).alias(f"_mh{i}")
                for i in range(n_hashes)
            ],
        )
    )

    band_entries = []
    for b in range(bands):
        slots = [
            F.col(f"_mh{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        band_entries.append(
            F.struct(F.lit(b).alias("band"), F.xxhash64(*slots).alias("key"))
        )
    # band rows carry ONLY (id, band, key): shuffling shingle payloads
    # through the band explode would multiply shuffle volume by `bands`
    banded = sigs.select(
        F.col(id_col), F.explode(F.array(*band_entries)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    a = banded.select(F.col(id_col).alias("doc_a"), "band", "key")
    b_ = banded.select(F.col(id_col).alias("doc_b"), "band", "key")
    cand = (
        a.join(b_, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # exact verification: count shared shingles per candidate pair
    sh_a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sizes_a = sigs.select(F.col(id_col).alias("doc_a"), F.col("_n_sh").alias("_na"))
    sizes_b = sigs.select(F.col(id_col).alias("doc_b"), F.col("_n_sh").alias("_nb"))
    return (
        inter.join(sizes_a, "doc_a")
        .join(sizes_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def keep_best_per_cluster(
    docs: DataFrame,
    resolved: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical-document selection: given a near-dup resolution
    (``near_dup_resolve`` output: id → canonical cluster label), keep
    the HIGHEST-SCORING member of each cluster instead of the min-id
    one — the policy production dedup actually wants ("of these 40
    mirrors of the same article, keep the longest / highest-quality
    copy"), cf. SemDeDup/CCNet keep-best-by-perplexity.

    Returns (canonical_id, kept_doc_id, n_members). Ties break to the
    smallest id so the choice is deterministic.

    Scale: ONE hash aggregation over the (id, cluster, score) frame —
    the argmax rides a struct max (score, -id), so there is no window
    sort and no second shuffle; n_members shares the same agg.
    """
    scored = resolved.select(id_col, "canonical_id").join(
        docs.select(id_col, score_col), id_col
    )
    best = F.max(
        F.struct(
            F.col(score_col).alias("s"), (-F.col(id_col)).alias("nid")
        )
    ).alias("_b")
    return (
        scored.groupBy("canonical_id")
        .agg(best, F.count(F.lit(1)).alias("n_members"))
        .select(
            "canonical_id",
            (-F.col("_b.nid")).cast("long").alias("kept_doc_id"),
            "n_members",
        )
    )


def normalize_for_dedup(col: "F.Column") -> "F.Column":
    """Canonical text form for normalization-robust exact dedup:
    lowercase, strip everything but [a-z0-9 ], collapse runs of
    whitespace, trim — so trivially-reformatted copies (case, "smart"
    punctuation, double spaces) hash identically. Pure JVM regexp
    expressions, map-only."""
    s = F.lower(col)
    s = F.regexp_replace(s, "[^a-z0-9 ]", "")
    s = F.regexp_replace(s, " +", " ")
    return F.trim(s)


def normalized_exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on the NORMALIZED content: (content_key, keeper id,
    n_copies) grouped by md5 of the canonical form. Catches the
    reformatted-copy tier that byte-exact dedup misses and near-dup
    pipelines shouldn't have to pay for.

    Scale: the shuffle key is the 32-char md5, so document payloads
    never move — same shape as hash-first exact dedup; md5 (not
    xxhash64) keeps the key engine-portable for cross-system
    verification."""
    key = F.md5(normalize_for_dedup(F.col(text_col)))
    return df.groupBy(key.alias("content_key")).agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("n_copies"),
    )


def incremental_dedup(
    new_batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Incremental-ingest dedup: rows of ``new_batch`` whose content
    does not already exist in ``corpus`` — the every-snapshot shape of
    a crawl pipeline (dedup TODAY'S batch against ALL history without
    re-deduping history).

    Anti-join on md5(content): the corpus side reduces to a
    deduplicated hash-only frame (32 bytes/doc, not documents), both
    sides hash-partition on the key, and at 100 TB the corpus key set
    is exactly the bucketed fingerprint index a warehouse would
    maintain incrementally.

    NULL contract: rows with NULL ``text_col`` are content-less —
    they are excluded from the output AND from the corpus fingerprint
    set (an anti-join on a NULL key would otherwise silently keep
    every NULL-text new row, while SQL's ``NOT IN`` twin would
    silently drop EVERYTHING if the corpus held one NULL — both sides
    now agree by construction)."""
    k = F.md5(F.col(text_col))
    corpus_keys = (
        corpus.filter(F.col(text_col).isNotNull())
        .select(k.alias("_ck"))
        .dropDuplicates()
    )
    return (
        new_batch.filter(F.col(text_col).isNotNull())
        .withColumn("_ck", k)
        .join(corpus_keys, "_ck", "left_anti")
        .drop("_ck")
    )


def contamination_fraction(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-document contamination FRACTION: the share of a document's
    distinct word n-grams that appear anywhere in the benchmark set —
    the graded signal threshold tuning needs where
    ``benchmark_decontaminate``'s boolean can only drop or keep (a doc
    quoting one benchmark sentence and a verbatim test-set copy both
    flag 'contaminated'; their fractions differ by 100x).

    Returns (id, n_grams, n_hits, frac). Same scale shape as the
    boolean operator: benchmark grams broadcast, corpus text never
    shuffles, per-doc totals and hits come from ONE gram stream
    (conditional count, not a second pass).
    """
    bench_grams = (
        _doc_shingles(benchmark, id_col, text_col, n)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    grams = _doc_shingles(corpus, id_col, text_col, n)
    per_doc = (
        grams.join(F.broadcast(bench_grams), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("bigint").alias(
                "n_hits"
            ),
        )
    )
    return per_doc.select(
        id_col,
        "n_grams",
        "n_hits",
        F.round(F.col("n_hits") / F.col("n_grams"), 4).alias("frac"),
    )


def source_overlap_jaccard(
    df: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Cross-source shingle overlap: Jaccard similarity of the word
    n-gram SETS of every source pair — the corpus-governance readout
    that finds sources mirroring each other (syndicated feeds, crawl
    duplicates at the FEED level) before per-document dedup even
    runs; dropping a 0.9-Jaccard source is one decision instead of a
    million pair deletions.

    Jaccard = |A∩B| / (|A| + |B| − |A∩B|) on distinct shingle sets;
    intersections come from the shingle-keyed self-join of the
    (source, shingle) incidence — a shingle shared by s sources fans
    out s(s−1)/2 pairs, bounded by the SOURCE count (tiny), never by
    corpus size. Exact-integer division for the emitted jaccard;
    ordering (jaccard DESC is a ratio of exact ints → engine-exact;
    pair tie-break).

    Scale shape: per-doc shingling (one posexplode + lead window keyed
    by doc), doc→source projection, distinct (source, shingle)
    aggregate — the corpus's only big shuffle; the pair join and the
    per-source size lookups run on source-cardinality frames
    (broadcast).
    """
    sh = _doc_shingles(df, id_col, text_col, n)
    src = df.select(F.col(id_col), F.col(source_col).alias("_s"))
    ss = _shared(sh.join(src, id_col).select("_s", "shingle").distinct())
    per = ss.groupBy("_s").agg(F.count(F.lit(1)).alias("_n"))
    a = ss.select(F.col("_s").alias("source_a"), "shingle")
    b = ss.select(F.col("_s").alias("source_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    pa = per.select(F.col("_s").alias("source_a"), F.col("_n").alias("n_a"))
    pb = per.select(F.col("_s").alias("source_b"), F.col("_n").alias("n_b"))
    return (
        inter.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "source_a", "source_b")
    )


def dup_cluster_length_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_tokens: int | None = None,
) -> DataFrame:
    """Duplicate-cluster size vs document length — the curation
    diagnostic behind the FineWeb/RefinedWeb observation that heavily
    duplicated web content skews short (templates, boilerplate, spam):
    documents are clustered by normalized-content fingerprint
    (``textstats.fingerprint64``; with ``prefix_tokens`` set, the
    fingerprint covers only the first k tokens — the template-lead-in
    variant that catches boilerplate openings on an otherwise
    dup-free corpus), cluster sizes are bucketed
    (1 / 2 / 3-5 / 6+), and each bucket reports cluster count, doc
    count, and mean tokens/chars per document — exact integer sums,
    two IEEE divisions rounded at 4.

    Scale shape: one fingerprint-keyed aggregate over (hash, token
    count, char count) slim rows — payloads never shuffle — then a
    4-row bucket aggregate. Both shuffles carry one row per distinct
    content / bucket thanks to partial aggregation.
    """
    from ..functions import token_count, word_tokens
    from .textstats import fingerprint64

    if prefix_tokens is None:
        key = fingerprint64(text_col)
    else:
        key = fingerprint64(
            F.array_join(
                F.slice(word_tokens(text_col), 1, int(prefix_tokens)), " "
            )
        )
    clusters = (
        df.select(
            key.alias("_fp"),
            token_count(text_col).cast("long").alias("_tok"),
            F.length(text_col).cast("long").alias("_chr"),
        )
        .groupBy("_fp")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_tok").alias("_st"),
            F.sum("_chr").alias("_sc"),
        )
    )
    bucket = (
        F.when(F.col("_n") == 1, "1")
        .when(F.col("_n") == 2, "2")
        .when(F.col("_n") <= 5, "3-5")
        .otherwise("6+")
    )
    return (
        clusters.select(
            bucket.alias("cluster_size_bucket"), "_n", "_st", "_sc"
        )
        .groupBy("cluster_size_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("_n").cast("long").alias("n_docs"),
            F.round(
                F.sum("_st") / F.sum("_n").cast("double"), 4
            ).alias("avg_tokens"),
            F.round(
                F.sum("_sc") / F.sum("_n").cast("double"), 4
            ).alias("avg_chars"),
        )
    )


def _jaccard_truth_pairs(
    sh: DataFrame,
    id_col: str,
    threshold: float,
    bucket: bool = False,
) -> DataFrame:
    """Exact-Jaccard pair set over a (id, shingle) frame: the
    candidate-bounded shingle self-join + per-doc size join, filtered
    at ``threshold``. With ``bucket=True`` adds the floor(j·100)/100
    bucket column (the planner/S-curve histogram key). Shared truth
    side of ``blocking_quality_report`` and
    ``banding_scurve_empirical`` — one definition so the two operators
    measure the SAME ground truth by construction."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n_sh"))
    sh_a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        sh_a.join(sh_b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sa = sizes.select(
        F.col(id_col).alias("doc_a"), F.col("_n_sh").alias("_na")
    )
    sb = sizes.select(
        F.col(id_col).alias("doc_b"), F.col("_n_sh").alias("_nb")
    )
    jac = F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= float(threshold))
    )
    if bucket:
        return out.select(
            "doc_a", "doc_b", (F.floor(jac * 100) / 100.0).alias("_jb")
        )
    return out.select("doc_a", "doc_b")


def _banded_candidates(
    sh: DataFrame, id_col: str, n_hashes: int, bands: int
) -> DataFrame:
    """md5-MinHash banded candidate pairs over a (id, shingle) frame:
    one grouped signature aggregate (map-side partial min per slot),
    an explode to ``bands`` keys per doc, a band-key equi-join,
    distinct. The salt/band-key layout here is the ONE definition both
    the quality report and the empirical S-curve price."""
    if n_hashes % bands != 0:
        raise ValueError("banded candidates: bands must divide n_hashes")
    rpb = n_hashes // bands
    sigs = sh.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}-"), F.col("shingle")))).alias(
                f"_mh{i}"
            )
            for i in range(n_hashes)
        ]
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("_band"),
                F.concat_ws(
                    "|", *[F.col(f"_mh{b * rpb + j}") for j in range(rpb)]
                ).alias("_key"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(
        F.col(id_col).alias("_id"), F.explode(band_structs).alias("_bk")
    ).select(
        "_id",
        F.col("_bk._band").alias("_band"),
        F.col("_bk._key").alias("_key"),
    )
    return (
        banded.select(F.col("_id").alias("doc_a"), "_band", "_key")
        .join(
            banded.select(F.col("_id").alias("doc_b"), "_band", "_key"),
            ["_band", "_key"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def blocking_quality_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.3,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Blocking-scheme quality report (Christen's record-linkage
    metrics): evaluate an md5-MinHash banded blocking scheme against
    the EXACT n-gram-Jaccard ground truth on the same corpus, and
    emit the one-row readout a curation stack checks before trusting
    that scheme at 100 TB — pair completeness (recall: the fraction
    of true near-dup pairs the blocking surfaces), pair quality
    (precision over candidates), reduction ratio (the fraction of the
    N·(N−1)/2 all-pairs space the blocking prunes away), and their
    F-score.

    Hashes are md5 over a salted shingle with the min taken over the
    hex string — the same engine-portable signature
    ``minhash_estimate_calibration`` certifies — so a SQL oracle
    recomputes signatures, band keys, candidates, truth, AND the four
    metrics end-to-end. Counts are exact integers; the metrics are
    single IEEE divisions rounded at 6.

    Scale shape: the truth side is the candidate-bounded shingle
    equi-join (verification-tier, same as ``ngram_jaccard_pairs``);
    the blocking side is one grouped signature aggregate (map-side
    partial min per slot), an explode to ``bands`` keys per doc, and
    a band-key equi-join — never all-pairs. Everything downstream of
    the two pair sets is ONE full-outer pair-key join reduced to a
    1-row count aggregate (each expensive subtree evaluates exactly
    once) plus the broadcast doc-count scalar. At production scale
    the truth join is the expensive audit you run on a SAMPLE; the
    metrics algebra is identical.

    Output: 1 row — (n_docs, n_possible_pairs, n_candidates, n_true,
    n_hits, pair_completeness, pair_quality, reduction_ratio,
    f_score).
    """
    sh = _shared(_doc_shingles(df, id_col, text_col, n))
    truth = _jaccard_truth_pairs(sh, id_col, threshold)
    cand = _banded_candidates(sh, id_col, n_hashes, bands)
    m_docs = df.agg(F.countDistinct(id_col).cast("long").alias("n_docs"))
    # One full-outer join + one aggregate yields all three pair counts
    # in a single evaluation of each (expensive) pair set — the naive
    # three-separate-counts form re-runs the shingle self-join and the
    # banding subtree twice each (measured 2.1x slower at sf0.1).
    both = truth.withColumn("_t", F.lit(1)).join(
        cand.withColumn("_c", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    m_pairs = both.agg(
        F.sum(F.coalesce(F.col("_t"), F.lit(0)))
        .cast("long")
        .alias("n_true"),
        F.sum(F.coalesce(F.col("_c"), F.lit(0)))
        .cast("long")
        .alias("n_candidates"),
        F.sum(
            F.when((F.col("_t") == 1) & (F.col("_c") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_hits"),
    )
    n_possible = (
        F.col("n_docs").cast("double")
        * (F.col("n_docs") - F.lit(1)).cast("double")
        / F.lit(2.0)
    )
    pc = F.when(
        F.col("n_true") > 0,
        F.col("n_hits") / F.col("n_true").cast("double"),
    )
    pq = F.when(
        F.col("n_candidates") > 0,
        F.col("n_hits") / F.col("n_candidates").cast("double"),
    )
    return (
        m_docs.crossJoin(F.broadcast(m_pairs))
        .select(
            "n_docs",
            n_possible.cast("long").alias("n_possible_pairs"),
            "n_candidates",
            "n_true",
            "n_hits",
            F.round(pc, 6).alias("pair_completeness"),
            F.round(pq, 6).alias("pair_quality"),
            F.round(F.lit(1.0) - F.col("n_candidates") / n_possible, 6).alias(
                "reduction_ratio"
            ),
            F.round(
                F.when(pc + pq > 0, F.lit(2.0) * pc * pq / (pc + pq)), 6
            ).alias("f_score"),
        )
    )


def intra_doc_line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "text_deduped",
) -> DataFrame:
    """WITHIN-document line dedup (keep-first): drop every repeat of a
    line inside the same document, reassembling survivors in original
    order — the intra-page repetition trim (repeated nav blocks,
    pagination artifacts, scraper stutter) that complements
    ``drop_common_lines``' CROSS-document boilerplate filter. The
    pretraining-pipeline step usually run before any cross-doc pass,
    since intra-doc repeats inflate a page's apparent mass in every
    downstream frequency signal.

    Output: (id, out_col, n_lines, n_dropped); a document whose lines
    are all repeats of its first keeps that first line. NULL text is
    coalesced to '' (one kept empty line, n_lines=1, n_dropped=0) so
    every input document appears in the output — without the coalesce,
    ``split(NULL)`` is NULL and posexplode would silently drop the row,
    vanishing the document from the corpus (the NULL-text discipline
    shared with ``nonempty_token_count``/``readability_profile``).

    Plan shape: posexplode lines, ONE row_number window keyed on
    (doc, line) ordered by position — per-frame size is a single
    document's copies of one line, so the window is as skew-safe as
    the documents themselves — then the same order-preserving sorted
    ``collect_list`` reassembly as ``drop_common_lines``, keyed on the
    document. No corpus-wide state at all: the operator is
    embarrassingly parallel over documents (cross-doc line counts
    never enter), which is why it belongs BEFORE the cross-doc pass
    in a 100 TB funnel.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line"),
    )
    w = W.partitionBy(id_col, "line").orderBy("pos")
    kept = lines.withColumn(
        "_drop", F.row_number().over(w) > 1
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("_drop"),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s.getField("line"),
                ),
            ).alias(out_col),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.col("_drop").cast("int")).cast("long").alias(
                "n_dropped"
            ),
        )
    )


def banding_scurve_empirical(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    jaccard_floor: float = 0.3,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """EMPIRICAL banding S-curve: for each exact-Jaccard bucket of
    observable near-dup pairs, the fraction that the md5-MinHash
    banding actually surfaces as candidates, next to the theoretical
    collision probability 1−(1−j^r)^b. ``lsh_banding_planner`` plans
    from theory; this operator closes the loop by measuring the real
    curve on the corpus — the divergence (theory assumes independent
    uniform hashes; real shingle sets are small and correlated) is
    exactly what you check on a sample before trusting the planner's
    (b, r) at 100 TB.

    Truth pairs and their exact Jaccard reuse the candidate-bounded
    shingle self-join (pairs below ``jaccard_floor`` never share
    enough shingles to observe — same floor discipline as the
    planner); candidates are the banded signature equi-join from
    ``blocking_quality_report``. One left join pair-to-pair, one
    bucket aggregate — everything past the two pair sets is
    |buckets|-row sized. Cost scales with the OBSERVABLE PAIR MASS
    (shingle-join output + banded collisions), which grows linearly
    with corpus size at fixed dup density: on a 10x row-replicated
    sf0.1 corpus it took 3.5-5.9x the base time (2.3-2.6 s base).

    Output: one row per j-bucket — (j_bucket, n_pairs, n_collided,
    observed_rate, theoretical_rate).
    """
    rpb = n_hashes // bands
    sh = _shared(_doc_shingles(df, id_col, text_col, n))
    truth = _jaccard_truth_pairs(sh, id_col, jaccard_floor, bucket=True)
    cand = _banded_candidates(sh, id_col, n_hashes, bands).withColumn(
        "_c", F.lit(1)
    )
    theo = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(F.col("j_bucket"), F.lit(float(rpb))),
        F.lit(float(bands)),
    )
    return (
        truth.join(cand, ["doc_a", "doc_b"], "left")
        .groupBy(F.col("_jb").alias("j_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.coalesce(F.col("_c"), F.lit(0)))
            .cast("long")
            .alias("n_collided"),
        )
        .select(
            "j_bucket",
            "n_pairs",
            "n_collided",
            F.round(
                F.col("n_collided") / F.col("n_pairs").cast("double"), 6
            ).alias("observed_rate"),
            F.round(theo, 6).alias("theoretical_rate"),
        )
    )


def dedup_growth_curve(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_checkpoints: int = 10,
) -> DataFrame:
    """Dedup-savings growth curve: cumulative document count vs
    cumulative DISTINCT-text count over a deterministic corpus order
    (doc_id ascending, equal-width id-range checkpoints) — the
    Heaps-law analog for duplication. Crawl dup rates GROW with crawl
    size (every new snapshot re-fetches old pages), so extrapolating
    this curve is how a 100 TB ingest forecasts post-dedup volume —
    and storage/compute budget — from a prefix.

    Same first-occurrence trick as ``heaps_law_fit``: each distinct
    text counts in the checkpoint of its MINIMUM doc_id (keyed on
    md5(text) — the payload never re-shuffles), so prefix sums over
    the K-row bucket frame equal exact running distinct counts; no
    cumulative-distinct window over the corpus.

    Output: K rows — (checkpoint, cum_docs, cum_distinct, dup_fraction).
    """
    from .layout import range_checkpoint_bucket

    bounds, bucket = range_checkpoint_bucket(df, id_col, n_checkpoints)

    docs_by_bucket = (
        df.select(id_col)
        .crossJoin(F.broadcast(bounds))
        .select(bucket.alias("_b"))
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_docs"))
    )
    first_doc = (
        df.select(F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_h"), F.col(id_col))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
    )
    dist_by_bucket = (
        first_doc.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("_b"))
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_dist"))
    )
    wcum = W.orderBy("_b").rowsBetween(W.unboundedPreceding, 0)
    return (
        docs_by_bucket.join(dist_by_bucket, "_b", "left")
        .select(
            "_b",
            F.sum("_docs").over(wcum).alias("_cd"),
            F.sum(F.coalesce(F.col("_dist"), F.lit(0)))
            .over(wcum)
            .alias("_cu"),
        )
        .select(
            F.col("_b").cast("int").alias("checkpoint"),
            F.col("_cd").cast("long").alias("cum_docs"),
            F.col("_cu").cast("long").alias("cum_distinct"),
            F.round(
                F.lit(1.0) - F.col("_cu") / F.col("_cd").cast("double"), 6
            ).alias("dup_fraction"),
        )
        .orderBy("checkpoint")
    )


def source_modularity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    n: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Newman modularity of the SOURCE partition over the near-dup
    graph: Q = Σ_s (e_ss/m − (d_s/2m)²), where e_ss counts near-dup
    edges inside source s, d_s is the source's degree mass, and m the
    total edge count. Q near its maximum means duplication is
    INTRA-source (dedup can shard by source and parallelize
    per-source); Q near 0 means near-dups cross source boundaries and
    the dedup pass must be global — the one-number answer to "can I
    dedup each source independently?", complementing
    ``source_overlap_jaccard``'s pairwise view.

    Edges are the exact shingle-Jaccard truth pairs (the
    ``_jaccard_truth_pairs`` verification tier); after the pair set
    come two shuffle joins against the slim |docs|-row id→source
    projection (pair-bounded) and |sources|-row aggregates. Counts are exact integers; Q is a ≤|sources|-term
    double sum (zipf float class, round 6).

    Output: 1 row — (n_edges, n_sources, intra_edge_fraction,
    modularity).
    """
    sh = _shared(_doc_shingles(df, id_col, text_col, n))
    pairs = _jaccard_truth_pairs(sh, id_col, threshold)
    src = df.select(F.col(id_col), F.col(group_col).alias("_src"))
    sa = src.select(
        F.col(id_col).alias("doc_a"), F.col("_src").alias("_sa")
    )
    sb = src.select(
        F.col(id_col).alias("doc_b"), F.col("_src").alias("_sb")
    )
    # doc->source is a |docs|-row map: a plain shuffle join (never a
    # forced broadcast — the map is corpus-sized, not source-sized).
    # r12: tagged feeds the degree mass (both endpoint branches), the
    # intra count and the edge total — 10 source scans in the baseline
    # plan without sharing; the checkpointed frame is the slim tagged
    # edge list (4 ids/strings per near-dup pair).
    tagged = _shared(pairs.join(sa, "doc_a").join(sb, "doc_b"))
    # degree mass per source: each edge endpoint contributes 1
    deg = (
        tagged.select(F.col("_sa").alias("_s"))
        .unionByName(tagged.select(F.col("_sb").alias("_s")))
        .groupBy("_s")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    intra = tagged.filter(F.col("_sa") == F.col("_sb")).groupBy(
        F.col("_sa").alias("_s")
    ).agg(F.count(F.lit(1)).alias("_e"))
    m1 = tagged.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    per = deg.join(intra, "_s", "left").select(
        "_s",
        F.col("_d"),
        F.coalesce(F.col("_e"), F.lit(0)).alias("_e"),
    )
    q_terms = per.crossJoin(F.broadcast(m1)).select(
        (
            F.col("_e") / F.col("n_edges").cast("double")
            - (
                F.col("_d")
                / (F.lit(2.0) * F.col("n_edges").cast("double"))
            )
            ** 2
        ).alias("_q"),
        (F.col("_e")).alias("_e"),
    )
    agg = q_terms.agg(
        F.sum("_q").alias("_mod"),
        F.sum("_e").cast("long").alias("_intra"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    return agg.crossJoin(F.broadcast(m1)).select(
        "n_edges",
        "n_sources",
        F.round(
            F.when(
                F.col("n_edges") > 0,
                F.col("_intra") / F.col("n_edges").cast("double"),
            ),
            6,
        ).alias("intra_edge_fraction"),
        F.round(F.when(F.col("n_edges") > 0, F.col("_mod")), 6).alias(
            "modularity"
        ),
    )

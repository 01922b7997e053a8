"""Load-shaping operators: seeded sampling, count-targeted sampling,
train/test and stratified splits (SURVEY §2.3 L1-L5).

These are the reference's main "optimizer" (pervasive
``sample(fraction, seed)`` calls); kept as explicit, seeded, documented
operators. Note SURVEY §7.4.1: sample/randomSplit are
partition-layout-dependent even when seeded — they never appear inside
oracle-checked queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SEED = 42


def count_targeted_sample(
    df: DataFrame, target_rows: int, total: int | None = None, seed: int = DEFAULT_SEED
) -> DataFrame:
    """L2: Bernoulli sample then hard ``limit(target)``
    (kmeans_large_scale.py:53-54). ``total`` avoids a count() when known.

    The naive ``fraction = target/total`` undershoots the target about
    half the time (the Bernoulli draw is binomial around the mean), so
    the fraction is padded by 10% plus a 5σ slack term before the
    ``limit`` trims back to exactly ``target_rows`` — the conventional
    oversample-then-limit pattern. Slack is ~sqrt(target), so the extra
    scanned fraction vanishes at scale."""
    import math

    n = total if total is not None else df.count()
    base = target_rows / max(n, 1)
    if base >= 1.0:
        return df
    fraction = min(1.0, 1.1 * base + 5.0 * math.sqrt(target_rows) / max(n, 1))
    return df.sample(False, fraction, seed).limit(target_rows)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fraction: float,
    seed: int = DEFAULT_SEED,
    max_strata: int = 10_000,
) -> DataFrame:
    """L4 Spark-native: ``sampleBy`` with a uniform per-stratum fraction
    (replaces the reference's driver-side sklearn stratify, v2:cell37).

    The strata enumeration is one distinct job over the key column,
    collected to the driver (that is how ``sampleBy`` works — the
    fractions map rides the closure). Sound for categorical strata
    (Severity, State, ...); guarded at ``max_strata`` so a mistaken
    high-cardinality key (e.g. an id column) fails fast instead of
    collecting millions of strata."""
    strata = [
        r[0] for r in df.select(strata_col).distinct().limit(max_strata + 1).collect()
    ]
    if len(strata) > max_strata:
        raise ValueError(
            f"stratified_sample: > {max_strata} distinct values in "
            f"'{strata_col}' — not a categorical stratum; use "
            "DataFrame.sample or raise max_strata"
        )
    return df.sampleBy(strata_col, {s: fraction for s in strata}, seed=seed)


def deterministic_split(
    df: DataFrame, key_col: str, test_fraction: float = 0.2
) -> tuple[DataFrame, DataFrame]:
    """Partition-layout-INdependent split: hash the key column into 100
    buckets and cut by bucket index. Unlike randomSplit, re-runs and
    repartitions give identical membership — required for reproducible
    ML golden tests (SURVEY §7.4.1).
    """
    bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(100))
    cut = int(100 * (1.0 - test_fraction))
    return df.filter(bucket < cut), df.filter(bucket >= cut)


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    seed: int = DEFAULT_SEED,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic dataset-mixing sampler: keep each stratum (domain,
    source, language, ...) at its configured rate by thresholding a
    16-bit uniform derived from ``md5(seed-id)`` — the operator behind
    "mix 100% wiki + 50% web + 10% crawl" training recipes.

    Unlike ``sampleBy`` (RNG-based: membership depends on partition
    layout and Spark version), the keep decision is a pure function of
    (id, seed): re-runs, repartitions, and other engines reproduce the
    exact row set — the same property ``deterministic_split`` provides
    for splits, extended to per-stratum rates. md5 (not xxhash64) so
    cross-engine oracles are exact; hex digits 9-12 give u16 ∈
    [0, 65536) disjoint from digits 1-8 used by shard routing, so
    sampling and sharding stay independent. Map-only: the rates map
    rides the plan as a literal; no shuffle, fully pushdown-
    compatible."""
    from .shard import _shuffle_key

    key = _shuffle_key(id_col, seed)
    u16 = F.conv(F.substring(key, 9, 4), 16, 10).cast("long")
    mapping = F.create_map(
        *[lit for k, v in rates.items() for lit in (F.lit(k), F.lit(float(v)))]
    )
    rate = F.coalesce(mapping[F.col(stratum_col)], F.lit(float(default_rate)))
    return df.filter(u16 < rate * 65536)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Weight-proportional sample of ``k`` rows WITHOUT replacement —
    Efraimidis–Spirakis A-ES: each row draws a uniform u and is ranked
    by u^(1/w); the k largest ranks are exactly a sequential weighted
    sample without replacement. Used for importance-weighted corpus
    subsampling (sample documents ∝ quality score) where Bernoulli
    thinning can't hit an exact k.

    DETERMINISTIC variant: u derives from ``md5(seed-id)`` (hex digits
    1-12 → 48-bit uniform), so membership is a pure function of
    (id, seed) — partition-layout independent, re-runnable, and
    engine-exact (the DuckDB oracle reproduces the selection, unlike
    ``rand()``-based sampling, SURVEY §7.4.1). Ranking uses
    ln(u)/w — monotone in u^(1/w), cheaper, and written identically
    in the oracle so both engines order the same IEEE doubles.

    Scale: map-only key computation on the scan, then top-k via
    orderBy+limit → TakeOrderedAndProject (per-partition heaps + one
    k-row merge at the driver — no global sort, no shuffle of the
    table). Rows with NULL or non-positive weight are excluded (A-ES
    is defined for w > 0).
    """
    from .shard import _shuffle_key

    v = F.conv(F.substring(_shuffle_key(id_col, seed), 1, 12), 16, 10).cast(
        "double"
    )
    u = (v + F.lit(0.5)) / F.lit(float(1 << 48))
    aes = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .select(F.col(id_col), F.col(weight_col), aes.alias("_aes"))
        .orderBy(F.col("_aes").desc(), F.col(id_col))
        .limit(k)
        .drop("_aes")
    )


def temperature_mixture_sample(
    df: DataFrame,
    target_rows: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    temperature: float = 2.0,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Temperature-flattened mixture sampling: per-stratum keep rates
    are DERIVED FROM THE DATA as n_s^(1/T) / Σ n^(1/T) — the
    multilingual/source-balancing recipe (T=1 keeps natural
    proportions, T→∞ uniform across strata) — then applied with the
    same deterministic md5 16-bit-uniform thresholding as
    ``mixture_sample`` (membership a pure function of (id, seed)).

    Rates ride a broadcast join of the stratum-count aggregate (they
    are computed, not configured, so no literal map); the corpus
    itself is filtered map-side. Expected output size ≈ target_rows
    (rate-based, not exact-k; use ``weighted_sample`` for exact k).

    T defaults to 2 because n^(1/2) is an IEEE-exact sqrt on every
    engine — an arbitrary T computes pow(), which may differ in the
    last ulp across libm implementations; for oracle-exact pipelines
    keep T=2 (document any other T as approximately-reproducible).
    """
    if temperature == 2.0:
        wt = F.sqrt(F.col("n").cast("double"))
    else:
        wt = F.pow(F.col("n").cast("double"), 1.0 / temperature)
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("n"))
    w = counts.select(stratum_col, "n", wt.alias("wt"))
    total_wt = w.agg(F.sum("wt").alias("_tw"))
    rates = w.crossJoin(F.broadcast(total_wt)).select(
        stratum_col,
        F.least(
            F.lit(float(target_rows)) * F.col("wt") / F.col("_tw") / F.col("n"),
            F.lit(1.0),
        ).alias("_rate"),
    )
    from .shard import _shuffle_key

    u16 = F.conv(
        F.substring(_shuffle_key(id_col, seed), 9, 4), 16, 10
    ).cast("long")
    return (
        df.join(F.broadcast(rates), stratum_col)
        .filter(u16 < F.col("_rate") * 65536)
        .drop("_rate")
    )


def stratified_kfold(
    df: DataFrame,
    label_col: str,
    key_col: str,
    k: int = 5,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Deterministic STRATIFIED k-fold assignment: within each label
    stratum, rows are ordered by (md5("{seed}-" ∥ key), key) — a
    content-derived pseudo-random permutation — and dealt round-robin
    into ``k`` folds, so every (fold, label) cell holds ⌈n_l/k⌉ or
    ⌊n_l/k⌋ rows: the balance guarantee cross-validation needs, exact
    by construction rather than in expectation (randomSplit's folds
    drift several percent per class).

    Engine-portable and layout-independent: membership is a pure
    function of (key, label, seed) — md5 (not xxhash64) so a DuckDB
    oracle reproduces the permutation, fold ids and cell counts
    bit-for-bit (same discipline as ``mixture_sample``).

    Returns ``df`` plus a ``fold`` int column. Plan shape: one
    row_number window partitioned by label — a single shuffle on the
    label key; at 100 TB with few labels the windows are wide, so the
    companion registry query aggregates to (fold, label) counts whose
    partial aggs keep the shuffle slim. For a skew-free variant at
    extreme scale, deal on the md5 u32 directly (mod k) and accept
    ±O(√n) balance instead of ±1.
    """
    from pyspark.sql import Window

    h = F.md5(
        F.concat(F.lit(f"{seed}-"), F.col(key_col).cast("string"))
    )
    w = Window.partitionBy(label_col).orderBy(h, F.col(key_col))
    return df.withColumn(
        "fold", ((F.row_number().over(w) - 1) % k).cast("int")
    )


def temperature_sweep_plan(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    temperatures: tuple = (0.5, 0.7, 1.0, 1.5, 2.0, 3.0),
) -> DataFrame:
    """Sampling-temperature sweep planner: for each candidate
    temperature τ, the flattened mixture p_s(τ) ∝ m_s^(1/τ) over the
    observed per-source token masses, with the diversity readouts —
    Shannon entropy, effective source count exp(H), and the top
    source's share — per grid point. The closed-form companion to
    ``temperature_mixture_sample`` (which draws ONE τ's sample): sweep
    first, pick the τ whose effective-source count meets the mixture
    target, then sample. mT5/Gopher-style mixture design as one
    aggregate query.

    Exactness: masses are exact integers; powers/entropy are the same
    literal pow/ln expression trees both engines evaluate on identical
    doubles (|sources| × |grid| terms, round 6).

    Scale shape: one map-only token count + group aggregate
    (|sources| rows), crossed with the |grid|-row literal temperature
    frame, normalized by a per-τ keyed window over that tiny frame —
    aggregate-sized end to end; the corpus is touched once.

    Output: one row per (temperature, group) — (temperature, group,
    token_mass, weight, entropy, effective_sources, top_share).
    """
    from pyspark.sql import Window as W

    from ..functions import nonempty_token_count

    if any(float(t) <= 0.0 for t in temperatures):
        raise ValueError(
            "temperature_sweep_plan: temperatures must be > 0"
        )
    per = df.groupBy(group_col).agg(
        F.sum(nonempty_token_count(text_col)).cast("long").alias(
            "token_mass"
        )
    )
    spark = df.sparkSession
    grid = spark.createDataFrame(
        [(float(t),) for t in temperatures], "temperature double"
    )
    raw = per.crossJoin(F.broadcast(grid)).select(
        "temperature",
        group_col,
        "token_mass",
        F.pow(
            F.col("token_mass").cast("double"),
            F.lit(1.0) / F.col("temperature"),
        ).alias("_u"),
    )
    wt = W.partitionBy("temperature")
    p = F.col("_u") / F.sum("_u").over(wt)
    with_p = raw.select(
        "temperature", group_col, "token_mass", p.alias("_p")
    )
    ent = F.sum(
        F.when(F.col("_p") > 0.0, -F.col("_p") * F.log("_p")).otherwise(0.0)
    ).over(wt)
    return with_p.select(
        "temperature",
        group_col,
        "token_mass",
        F.round("_p", 6).alias("weight"),
        F.round(ent, 6).alias("entropy"),
        F.round(F.exp(ent), 6).alias("effective_sources"),
        F.round(F.max("_p").over(wt), 6).alias("top_share"),
    )


def neyman_allocation(
    df: DataFrame,
    group_col: str = "source",
    budget: int = 10_000,
    text_col: str = "text",
) -> DataFrame:
    """Neyman-optimal stratified sample allocation: split an integer
    sampling ``budget`` across strata proportionally to n_s·σ_s (the
    allocation that minimizes the variance of the stratified mean —
    Neyman 1934), integerized by largest remainder so the total is
    exactly preserved. The QA-sampling planner: audit more of the
    strata that are LARGE and NOISY, not merely large.

    σ_s here is the per-source population sd of the per-doc token
    count (exact DECIMAL Σx/Σx² so the moments are summation-order
    free); the Neyman weight n_s·σ_s is then QUANTIZED to exact
    integer micro-units before apportionment — shares become exact
    integer ratios, so both engines floor and rank identically (the
    ``largest_remainder_allocation`` discipline).

    Scale shape: one map-only token count, one group-keyed moment
    aggregate, then everything is |strata|-row frames with two
    aggregate-sized windows.

    Output: one row per group — (group, n_rows, sd_tokens, alloc)
    with Σalloc = budget exactly.
    """
    from pyspark.sql import Window as W

    from ..functions import nonempty_token_count

    x = nonempty_token_count(text_col).cast("decimal(18,0)")
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(x).alias("_s1"),
        F.sum((x * x).cast("decimal(38,0)")).alias("_s2"),
    )
    n = F.col("n_rows").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    sd = F.sqrt(F.greatest(s2 / n - (s1 / n) * (s1 / n), F.lit(0.0)))
    wq = per.select(
        group_col,
        "n_rows",
        F.round(sd, 6).alias("sd_tokens"),
        F.round(n * sd * 1e6, 0).cast("long").alias("_wc"),
    )
    w_all = W.partitionBy()
    # all-zero-variance degenerate corpus: fall back to size-
    # proportional weights so Σalloc = budget still holds (a 0/0
    # share would silently NULL every allocation)
    wq = wq.withColumn(
        "_wc",
        F.when(F.sum("_wc").over(w_all) > 0, F.col("_wc")).otherwise(
            F.col("n_rows")
        ),
    )
    share = (
        F.lit(float(budget)) * F.col("_wc") / F.sum("_wc").over(w_all)
    )
    s = wq.select(
        group_col,
        "n_rows",
        "sd_tokens",
        share.alias("_share"),
        F.floor(share).cast("long").alias("_base"),
    )
    r = s.select(
        group_col,
        "n_rows",
        "sd_tokens",
        "_base",
        (F.lit(int(budget)) - F.sum("_base").over(w_all)).alias("_left"),
        F.row_number()
        .over(
            W.orderBy(
                F.desc(F.col("_share") - F.col("_base")), group_col
            )
        )
        .alias("_rk"),
    )
    return r.select(
        group_col,
        "n_rows",
        "sd_tokens",
        (
            F.col("_base")
            + F.when(F.col("_rk") <= F.col("_left"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
    )

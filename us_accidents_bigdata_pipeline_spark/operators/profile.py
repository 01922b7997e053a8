"""Profiling operators: single-pass null audit, distinct counts,
histograms and statistical tests (SURVEY §2.4 A5/A1). Each profile is ONE aggregate job over all
columns (the reference's v2:cell17 batching idiom, never v2:cell19's
per-column driver round-trips)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def null_audit(df: DataFrame) -> DataFrame:
    """One row: null count per column, single pass (v2:cell17)."""
    aggs = [
        F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"n_null_{c}")
        for c in df.columns
    ]
    return df.agg(*aggs, F.count(F.lit(1)).alias("n_rows"))


def histogram(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_buckets: int = 10,
) -> DataFrame:
    """Equi-width histogram via ``width_bucket`` (bucket 0 = below lo,
    n_buckets+1 = at/above hi, SQL-standard semantics). One partial+
    final aggregation; the bucket expression stays in codegen — the
    distributed form of the reference's pandas value_counts plots."""
    return (
        df.select(
            F.width_bucket(F.col(col), F.lit(lo), F.lit(hi), F.lit(n_buckets))
            .cast("int")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


def robust_outliers(
    df: DataFrame,
    col: str,
    id_cols: list[str],
    z_threshold: float = 3.0,
) -> DataFrame:
    """Median/MAD robust outlier detection: rows whose robust z-score
    ``(x − median) / (1.4826 · MAD)`` exceeds the threshold. Unlike
    mean/stddev z-scores, the median and MAD are themselves immune to
    the outliers being hunted (50% breakdown point).

    Two exact-median passes (median, then median of absolute
    deviations) — each a single aggregation; the candidate filter is a
    map-only comparison against two broadcast scalars folded into the
    plan as a literal-free cross join of 1-row frames (Catalyst turns
    it into a broadcast nested loop over ONE row, effectively free)."""
    med_df = df.select(F.median(F.col(col)).alias("_med"))
    dev = df.join(F.broadcast(med_df)).withColumn(
        "_dev", F.abs(F.col(col) - F.col("_med"))
    )
    mad_df = dev.select(F.median("_dev").alias("_mad")).select(
        (F.lit(1.4826) * F.col("_mad")).alias("_smad")
    )
    return (
        dev.join(F.broadcast(mad_df))
        .filter(F.col("_dev") > z_threshold * F.col("_smad"))
        .select(
            *id_cols,
            F.round((F.col(col) - F.col("_med")) / F.col("_smad"), 4).alias(
                "robust_z"
            ),
        )
    )


def grouped_ols(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group simple linear regression y = a + b·x via
    ``groupBy().applyInPandas`` — the grouped-map Arrow surface
    (SURVEY §2.11: the U-family policy is "vectorized kernels only";
    this is the batch grouped-map member, streaming's
    ``applyInPandasWithState`` being the stateful one).

    Closed-form fit (b = cov/var, a = ȳ − b·x̄, r² = corr²) keeps the
    kernel one NumPy pass per group AND makes the operator
    SQL-oracle-checkable against ``covar_pop/var_pop/corr`` — a
    grouped-map UDF whose numerics an independent engine can verify,
    not just a rows-only shape check.

    Scale: one shuffle on the group key; each group fits in one Arrow
    batch stream (groups here are low-cardinality categories — for
    billion-row groups the closed-form aggregates themselves are the
    scalable formulation and this operator IS that fallback, one
    ``groupBy().agg`` away).
    """
    import numpy as np
    import pandas as pd

    gtype = dict(df.dtypes)[group_col]
    schema = (
        f"{group_col} {gtype}, n bigint, slope double, "
        "intercept double, r2 double"
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[x_col].to_numpy(dtype=np.float64)
        y = pdf[y_col].to_numpy(dtype=np.float64)
        n = len(x)
        xm, ym = x.mean(), y.mean()
        cov = float(((x - xm) * (y - ym)).sum()) / n
        var = float(((x - xm) ** 2) .sum()) / n
        vary = float(((y - ym) ** 2).sum()) / n
        slope = cov / var if var > 0 else 0.0
        intercept = ym - slope * xm
        r2 = (cov * cov) / (var * vary) if var > 0 and vary > 0 else 0.0
        return pd.DataFrame(
            [
                [
                    pdf[group_col].iloc[0],
                    n,
                    round(slope, 6),
                    round(intercept, 6),
                    round(r2, 6),
                ]
            ],
            columns=[group_col, "n", "slope", "intercept", "r2"],
        )

    return df.select(group_col, x_col, y_col).groupBy(group_col).applyInPandas(
        fit, schema
    )


def table_fingerprint(
    df: DataFrame, cols: list[str] | None = None
) -> DataFrame:
    """Order-insensitive whole-table checksum for replica/migration
    verification: two tables are (almost surely) row-identical iff
    fingerprints match, compared with ONE number per side instead of a
    row-by-row diff — the anti-entropy check for cross-cluster copies.

    Per row: md5 over a null-tagged concatenation of the columns
    (the tag keeps (NULL,'x') distinct from ('x',NULL)); the leading
    60 bits parse as a long. Rows combine with bit_xor — commutative,
    associative, overflow-free — so the result is independent of row
    order, partitioning, and engine (md5 + xor agree everywhere;
    DuckDB-oracled in the catalog). XOR cancels DUPLICATE PAIRS, so
    the row count rides along to catch even-multiplicity edits.

    Plan shape: map-only projection + single scalar aggregate; no
    shuffle of data, just partial-agg combining.
    """
    if cols is None:
        cols = df.columns
    tagged = F.concat_ws(
        "\x1f",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
            for c in cols
        ],
    )
    row_hash = F.conv(F.substring(F.md5(tagged), 1, 15), 16, 10).cast("long")
    return df.agg(
        F.bit_xor(row_hash).alias("xor_fingerprint"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _det3(m: list[list[float]]) -> float:
    """3x3 determinant by first-row cofactor expansion, written in the
    EXACT operation order the catalog oracle spells out in SQL —
    IEEE-754 doubles evaluated in the same order are bit-identical
    across engines, which is what lets an independent engine verify
    the coefficient solve itself (not just the sufficient statistics).
    Keep in sync with the ``ols_normal_equations_lineitem`` oracle.
    """
    (a, b, c), (d, e, f), (g, h, i) = m
    return a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)


def ols_normal_eq_sums(
    df: DataFrame, x_cols: list[str], y_col: str
) -> dict[str, float]:
    """Sufficient statistics for closed-form OLS in ONE distributed
    pass: n, Σxᵢ, Σy, Σxᵢxⱼ (i ≤ j), Σxᵢy, Σy² — the Gram matrix XᵀX
    and moment vector Xᵀy of the design [1, x₁, …, x_d].

    This is the 100 TB formulation of linear regression: the data is
    touched once with map-side partial aggregation, only O(d²) numbers
    reach the driver, and the d×d solve is a driver-side epsilon. No
    gradient iterations, no per-row Python.

    Sums are computed in DECIMAL(38,12) (inputs cast to
    DECIMAL(18,6)): decimal addition is exact and therefore
    partition-order independent, so the statistics are REPRODUCIBLE
    bit-for-bit across cluster layouts and across engines — float
    sums would differ in the last ulps per run and per engine. Rows
    with any NULL among the regression columns are dropped (the
    standard complete-case contract).
    """
    cols = list(x_cols) + [y_col]
    dfc = df.na.drop(subset=cols).select(
        *[F.col(c).cast("decimal(18,6)").alias(c) for c in cols]
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, ci in enumerate(cols):
        aggs.append(F.sum(ci).alias(f"s_{ci}"))
        # a |value| >= 1e12 overflows the DECIMAL(18,6) cast to NULL;
        # sum() would silently skip it while count() still counted the
        # row — inconsistent statistics. Count the casted non-nulls
        # and fail fast below instead.
        aggs.append(F.count(ci).alias(f"_nn_{ci}"))
        for cj in cols[i:]:
            aggs.append(
                F.sum(
                    (F.col(ci) * F.col(cj)).cast("decimal(38,12)")
                ).alias(f"s_{ci}_{cj}")
            )
    row = dfc.agg(*aggs).collect()[0]
    d = row.asDict()
    n = d["n"]
    for ci in cols:
        if d[f"_nn_{ci}"] != n:
            raise ValueError(
                f"ols_normal_eq_sums: {n - d[f'_nn_{ci}']} value(s) in "
                f"{ci!r} overflow DECIMAL(18,6) (|x| >= 1e12) — the "
                "sums would silently exclude them; rescale the column"
            )
    return {k: float(v) for k, v in d.items() if not k.startswith("_nn_")}


def ols_fit2(
    df: DataFrame,
    x1: str,
    x2: str,
    y_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Two-feature OLS ŷ = b₀ + b₁·x₁ + b₂·x₂ solved from the
    normal-equation sufficient statistics via Cramer's rule.

    Output is long-form (term, value): intercept, one coefficient per
    feature, r2, and n — one tiny driver-assembled frame. Cramer (not
    LU) is deliberate: with the determinant expansion written in the
    same operation order as the SQL oracle, the solve is
    engine-reproducible down to the last bit, so the oracle certifies
    the SOLVE, not only the sums.

    r² = 1 − SSE/SST with SSE = Σy² − bᵀXᵀy (the closed-form OLS
    identity) — no second pass over the data.
    """
    s = ols_normal_eq_sums(df, [x1, x2], y_col)
    n = s["n"]
    sx1, sx2, sy = s[f"s_{x1}"], s[f"s_{x2}"], s[f"s_{y_col}"]
    sx1x1, sx1x2 = s[f"s_{x1}_{x1}"], s[f"s_{x1}_{x2}"]
    sx2x2 = s[f"s_{x2}_{x2}"]
    sx1y, sx2y = s[f"s_{x1}_{y_col}"], s[f"s_{x2}_{y_col}"]
    syy = s[f"s_{y_col}_{y_col}"]
    m = [[n, sx1, sx2], [sx1, sx1x1, sx1x2], [sx2, sx1x2, sx2x2]]
    v = [sy, sx1y, sx2y]
    det = _det3(m)
    b = [
        _det3([[v[r] if c == j else m[r][c] for c in range(3)] for r in range(3)])
        / det
        for j in range(3)
    ]
    sse = syy - (b[0] * sy + b[1] * sx1y + b[2] * sx2y)
    sst = syy - sy * sy / n
    r2 = 1.0 - sse / sst
    rows = [
        ("intercept", round(b[0], ndigits)),
        (f"coef_{x1}", round(b[1], ndigits)),
        (f"coef_{x2}", round(b[2], ndigits)),
        ("r2", round(r2, ndigits)),
        ("n", float(n)),
    ]
    return df.sparkSession.createDataFrame(rows, "term string, value double")


def cogrouped_ks(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Per-key two-sample Kolmogorov–Smirnov statistic between two
    frames — segment-level drift detection (per event type, per
    feature bucket: did the serving distribution move vs training?).

    This is the CO-GROUPED-MAP Arrow surface
    (``a.groupby(k).cogroup(b.groupby(k)).applyInPandas``): Spark
    co-shuffles both inputs on the key and hands each kernel the pair
    of per-key pandas frames — the U-family member that plain
    grouped-map (one input) and stateful streaming kernels don't
    cover. One co-partitioned shuffle total; the kernel is a sorted
    numpy CDF scan, O(n log n) per key.

    KS is evaluated at each DISTINCT pooled value with right-CDFs
    (complete counts at ties) — the exact statistic, and the precise
    formulation the DuckDB oracle reproduces with a distinct-value
    cumulative window. Keys missing from either side are omitted (KS
    is undefined against an empty sample), mirroring the oracle's
    inner-join semantics.
    """
    import numpy as np
    import pandas as pd

    ktype = dict(a.dtypes)[key_col]
    schema = f"{key_col} {ktype}, n_a bigint, n_b bigint, ks double"
    cols = [key_col, "n_a", "n_b", "ks"]

    def ks(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(columns=cols)
        x = np.sort(left[value_col].to_numpy(dtype=np.float64))
        y = np.sort(right[value_col].to_numpy(dtype=np.float64))
        grid = np.unique(np.concatenate([x, y]))
        fa = np.searchsorted(x, grid, side="right") / len(x)
        fb = np.searchsorted(y, grid, side="right") / len(y)
        stat = round(float(np.max(np.abs(fa - fb))), ndigits)
        return pd.DataFrame(
            [[left[key_col].iloc[0], len(x), len(y), stat]], columns=cols
        )

    return (
        a.groupby(key_col)
        .cogroup(b.groupby(key_col))
        .applyInPandas(ks, schema)
    )


def group_quantiles_arrow(
    df: DataFrame,
    key_col: str,
    value_col: str,
    qs: tuple = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Per-group EXACT discrete quantiles (value at 1-indexed rank
    ⌈q·n⌉ — a value that exists in the data, not an interpolation)
    via ``groupBy().applyInArrow``: the grouped-map ARROW surface
    (kernel receives/returns pyarrow Tables, no pandas conversion) —
    the last member of the vectorized-Python family the engine
    exercises (scalar pandas_udf, mapInPandas, mapInArrow,
    applyInPandas, cogroup, applyInPandasWithState being the others).

    Discrete (type-1) quantiles are deliberate: interpolated medians
    of cent-valued data land on .xx5 round-half boundaries where
    engines disagree (SURVEY §7.4), while a rank-selected value is
    parquet-exact on both sides — which is what makes THIS grouped
    Arrow kernel oracle-checkable to the last bit.

    Scale: one hash shuffle on the key; per-group kernel is one sort.
    NULL values are excluded (quantiles of the present data).
    """
    import math

    import numpy as np
    import pyarrow as pa

    ktype = dict(df.dtypes)[key_col]
    qnames = [f"q{int(q * 100)}" for q in qs]
    schema = f"{key_col} {ktype}, n bigint, " + ", ".join(
        f"{qn} double" for qn in qnames
    )

    def quant(tbl: "pa.Table") -> "pa.Table":
        x = np.sort(
            tbl.column(value_col).to_numpy(zero_copy_only=False)
        )
        n = len(x)
        row: dict = {
            key_col: [tbl.column(key_col)[0].as_py()],
            "n": [n],
        }
        for q, qn in zip(qs, qnames):
            idx = max(int(math.ceil(q * n)) - 1, 0)
            row[qn] = [float(x[idx])]
        return pa.table(row)

    return (
        df.filter(F.col(value_col).isNotNull())
        .select(key_col, value_col)
        .groupBy(key_col)
        .applyInArrow(quant, schema)
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Quantile normalization across groups: each row's value is
    replaced by the POOLED distribution's value at the row's relative
    rank within its group — idx = ⌈(r − 0.5) · N / n_g⌉ — so every
    group ends up with the same marginal distribution (the
    batch-effect correction genomics/feature pipelines run when
    sources disagree in scale but should agree in shape).

    Discrete formulation (pooled value AT a rank, no interpolation):
    rank arithmetic is exact integers + one identical-order double
    product, so the mapping is engine-exact and the whole transform is
    value-oracle-checkable.

    Scale shape: the pooled rank→value map comes from
    ``layout.global_row_number`` (range exchange — no SinglePartition
    sort); per-group ranks are one keyed window; the final lookup is
    an equi-join on the integer rank against the slim (rank, value)
    map. The only 1-row broadcast is the global count N.
    """
    from .layout import global_row_number

    pooled = global_row_number(
        df.select(F.col(value_col), F.col(id_col)),
        [value_col, id_col],
    ).select(
        F.col("rn").alias("_idx"), F.col(value_col).alias("norm_value")
    )
    n_total = df.agg(F.count(F.lit(1)).alias("_n"))
    wg = W.partitionBy(group_col).orderBy(value_col, id_col)
    ranked = (
        df.select(group_col, value_col, id_col)
        .withColumn("_r", F.row_number().over(wg))
        .withColumn(
            "_ng", F.count(F.lit(1)).over(W.partitionBy(group_col))
        )
        .crossJoin(F.broadcast(n_total))
        .withColumn(
            "_idx",
            F.ceil(
                (F.col("_r") - 0.5) * F.col("_n") / F.col("_ng")
            ).cast("long"),
        )
    )
    return ranked.join(pooled, "_idx").select(
        id_col, group_col, value_col, "norm_value"
    )


def bootstrap_ci_mean(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n_boot: int = 200,
    alpha: float = 0.05,
    seed: int = 42,
) -> DataFrame:
    """Nonparametric bootstrap CI for the mean of an AGGREGATE frame
    (e.g. daily revenue) with a fully DETERMINISTIC resampler: replicate
    ``b``'s ``j``-th draw picks row ``md5("{seed}-{b}-{j}")``-uniform in
    [0, n) — a pure function of (seed, b, j), so the whole CI is
    engine-reproducible (no RNG, no layout dependence; the property
    randomSplit-style resampling can't give).

    Per-replicate means use EXACT decimal sums (one double division at
    the end — the ols_normal_eq_sums discipline), so every replicate
    mean is bit-identical across engines and the percentile order
    statistics follow exactly. Returns ONE row: (n, n_boot, point_mean,
    ci_lo, ci_hi) at the (alpha/2, 1-alpha/2) percentiles.

    Scale shape: ``df`` is an aggregate (thousands of rows at any SF) —
    it BROADCASTS; the (b, j) index grid is n_boot·n slim longs built
    by ``spark.range`` (no data shuffle), and the only aggregation is
    the (b)-keyed mean with map-side partials. The raw fact table never
    participates — bootstrap the aggregate, not the corpus.
    """
    spark = df.sparkSession
    n = df.count()
    d = df.select(
        (F.row_number().over(W.orderBy(F.col(key_col))) - 1).alias("_i"),
        F.col(value_col).cast("decimal(18,2)").alias("_v"),
    )
    grid = spark.range(int(n_boot) * n).select(
        (F.col("id") / n).cast("long").alias("_b"),
        (F.col("id") % n).alias("_j"),
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "-",
                    F.lit(str(seed)),
                    F.col("_b").cast("string"),
                    F.col("_j").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    draws = grid.select("_b", (u % n).alias("_i"))
    means = (
        draws.join(F.broadcast(d), "_i")
        .groupBy("_b")
        .agg(
            (F.sum("_v").cast("double") / F.lit(float(n))).alias("_m")
        )
    )
    lo_k = int((alpha / 2.0) * n_boot)       # zero-based order stat
    hi_k = n_boot - 1 - lo_k
    ranked = means.select(
        "_m",
        (F.row_number().over(W.orderBy(F.col("_m"), F.col("_b"))) - 1).alias(
            "_r"
        ),
    )
    point = d.agg(
        (F.sum("_v").cast("double") / F.lit(float(n))).alias("pm")
    )
    return (
        ranked.filter(F.col("_r").isin(lo_k, hi_k))
        .agg(
            F.round(F.min("_m"), 2).alias("ci_lo"),
            F.round(F.max("_m"), 2).alias("ci_hi"),
        )
        .crossJoin(F.broadcast(point))
        .select(
            F.lit(n).cast("long").alias("n"),
            F.lit(n_boot).cast("int").alias("n_boot"),
            F.round(F.col("pm"), 2).alias("point_mean"),
            "ci_lo",
            "ci_hi",
        )
    )


def seasonal_naive_backtest(
    df: DataFrame,
    date_col: str,
    value_col: str,
    season: int = 7,
) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (ŷ_t = y_{t-season})
    over a daily aggregate series: per calendar month, the MAPE and
    SMAPE of the lag-``season`` forecast — the baseline every revenue
    forecast must beat, and the standard sanity readout before
    shipping anything fancier.

    ``df`` must already be the (date, value) aggregate (exact decimal
    values recommended); rows whose lag has no history (the first
    ``season`` days) are excluded. Per-row errors are deterministic
    IEEE arithmetic on exact inputs; the per-month averages round to 4.

    Scale shape: one lag window over the aggregate-sized series (audit-
    whitelisted single partition — thousands of rows at any SF), one
    month-keyed agg.
    """
    w = W.orderBy(F.col(date_col))
    fc = df.select(
        F.col(date_col).alias("_d"),
        F.col(value_col).cast("double").alias("_y"),
        F.lag(F.col(value_col).cast("double"), season).over(w).alias("_f"),
    ).filter(F.col("_f").isNotNull())
    # Zero guards mirror the oracle's CASE WHEN (ANSI divide-by-zero
    # discipline): a zero-valued day would be NULL under Spark but
    # +/-inf under DuckDB's IEEE default — make both engines emit
    # NULL (which avg() skips) so the readout stays engine-identical.
    ape = F.when(
        F.col("_y") != 0,
        F.abs(F.col("_y") - F.col("_f")) / F.col("_y"),
    )
    sape = F.when(
        (F.col("_y") + F.col("_f")) != 0,
        F.lit(2.0)
        * F.abs(F.col("_y") - F.col("_f"))
        / (F.col("_y") + F.col("_f")),
    )
    return (
        fc.groupBy(F.date_format("_d", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.avg(ape), 4).alias("mape"),
            F.round(F.avg(sape), 4).alias("smape"),
        )
    )


def _normal_sf_two_sided(az):
    """Two-sided normal tail 2·(1−Φ(az)) via Abramowitz–Stegun 7.1.26
    (|error| < 7.5e-8, far inside the round-4 output): a fixed
    polynomial in t = 1/(1+0.2316419·az) times the normal pdf. Spelled
    in one Horner order and mirrored verbatim in the SQL oracles so
    both engines run the identical expression tree."""
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * az)
    poly = t * (
        F.lit(0.319381530)
        + t
        * (
            F.lit(-0.356563782)
            + t
            * (
                F.lit(1.781477937)
                + t * (F.lit(-1.821255978) + t * F.lit(1.330274429))
            )
        )
    )
    pdf = F.exp(F.lit(-0.5) * az * az) / F.sqrt(F.lit(2.0) * F.lit(3.141592653589793))
    return F.lit(2.0) * pdf * poly


def _guard_value_cardinality(
    d: DataFrame, cols: list[str], max_distinct: int | None, op: str
) -> None:
    """CARDINALITY CONTRACT of the per-distinct-value window family
    (``mann_whitney_u`` / ``energy_distance_two_sample`` /
    ``wasserstein_1d`` / ``spearman_correlation``): their ordered
    windows run over the per-DISTINCT-VALUE aggregate, which is safe
    exactly because business metrics quantize (currency to
    decimal(18,2), counts, timestamps to a grain) — a truly CONTINUOUS
    column makes that aggregate O(n) rows through one task. This guard
    makes the contract explicit: one cheap ``approx_count_distinct``
    job over the (already cast/quantized) analysis columns, raising
    with remediation guidance when any exceeds ``max_distinct``.
    ``max_distinct=None`` skips the pre-check (and its Spark job)
    entirely for callers that know their domain."""
    if max_distinct is None:
        return
    row = d.agg(
        *[F.approx_count_distinct(c).alias(c) for c in cols]
    ).first()
    for c in cols:
        nd = int(row[c])
        # HLL++ estimates carry ~2-5% relative error: compare against
        # the bound with 10% slack so a legitimately-quantized column
        # sitting near the limit cannot flip between pass and raise on
        # a small append. The bound protects plan SHAPE, not an exact
        # budget — +10% through one task changes nothing.
        if nd > int(max_distinct) * 1.1:
            raise ValueError(
                f"{op}: approx_count_distinct ~{nd:,} values in {c!r} exceed "
                f"max_distinct={max_distinct:,}; the per-distinct-value "
                "window would funnel that many rows through one task. "
                "Quantize the column first (round to a coarser decimal "
                "scale, or bin via equi_depth_histogram) or pass a "
                "larger / None max_distinct explicitly."
            )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    max_distinct: int | None = 1_000_000,
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test between two slices — the
    nonparametric two-sample test a skewed metric (revenue, latency)
    needs where the t-test's normality assumption fails.

    Formulated WITHOUT ranking individual rows: the pooled sample
    reduces to a per-DISTINCT-VALUE aggregate (count per group), the
    prefix-sum window runs over that aggregate, and the rank sum is
    Σ cnt_a(v)·midrank(v) with midrank(v) = |{<v}| + (ties(v)+1)/2 —
    the fact slice shuffles once as (value, counts), never sorts
    row-by-row. Midranks are exact halves and the rank sum stays below
    2^52, so R₁/U₁/U₂ are engine-exact; only the tie-corrected z and
    the two-sided normal p take libm steps, rounded to 4. Neither
    engine ships erf, so p uses the Abramowitz-Stegun 7.1.26
    polynomial for the normal CDF — the SAME expression tree on both
    sides, fed the already-ROUNDED z, so engines differ only in
    exp()'s last ulp.

    Output: one row (n_a, n_b, u_a, u_b, z, p_two_sided).

    Cardinality contract: see ``_guard_value_cardinality`` — the
    window input is value-cardinality-sized, guarded by the
    ``max_distinct`` pre-check (None skips it).
    """
    pooled = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        (F.col(group_col) == group_a).alias("_is_a"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    _guard_value_cardinality(pooled, ["_v"], max_distinct, "mann_whitney_u")
    per_v = pooled.groupBy("_v").agg(
        F.sum(F.when(F.col("_is_a"), 1).otherwise(0)).alias("_ca"),
        F.count(F.lit(1)).alias("_ct"),
    )
    wv = W.orderBy(F.col("_v"))
    cum = per_v.select(
        "_ca",
        "_ct",
        (
            F.sum("_ct").over(wv)
            - F.col("_ct")
            + (F.col("_ct") + 1) / F.lit(2.0)
        ).alias("_mr"),
    )
    agg = cum.agg(
        F.sum(F.col("_ca") * F.col("_mr")).alias("r_a"),
        F.sum("_ca").alias("n_a"),
        F.sum(F.col("_ct") - F.col("_ca")).alias("n_b"),
        F.sum(
            F.col("_ct") * F.col("_ct") * F.col("_ct") - F.col("_ct")
        ).alias("tie_sum"),
    )
    u_a = F.col("r_a") - F.col("n_a") * (F.col("n_a") + 1) / F.lit(2.0)
    n = F.col("n_a") + F.col("n_b")
    var = (
        F.col("n_a")
        * F.col("n_b")
        / F.lit(12.0)
        * (n + 1 - F.col("tie_sum") / (n * (n - 1)))
    )
    # var = 0 when every pooled value ties (or a group is empty):
    # unguarded, Spark yields NULL but DuckDB's IEEE default yields
    # ±inf — CASE WHEN on both sides keeps the degenerate case NULL
    # under both engines (same ANSI discipline as the MAPE guards).
    z = F.round(
        F.when(
            var > 0,
            (u_a - F.col("n_a") * F.col("n_b") / F.lit(2.0))
            / F.sqrt(var),
        ),
        4,
    )
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        u_a.alias("u_a"),
        (F.col("n_a") * F.col("n_b") - u_a).alias("u_b"),
        z.alias("z"),
        F.round(_normal_sf_two_sided(F.abs(z)), 4).alias(
            "p_two_sided"
        ),
    )


def theil_sen_slope(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil–Sen estimator over an AGGREGATE series: the median of all
    pairwise slopes (yⱼ−yᵢ)/(xⱼ−xᵢ), xᵢ<xⱼ — the robust trend readout
    (up to ~29% outliers) that OLS on daily revenue can't give.

    ``df`` must be aggregate-sized (daily/monthly rollups): the n² pair
    set of a 2,400-day series is ~2.9M slim rows — trivially parallel,
    but quadratic, so never point this at a fact table; aggregate
    first. Median = lower-middle order statistic by (slope, i, j) —
    a deterministic total order (each slope is one IEEE division of
    exact inputs), engine-exact; the emitted slope rounds to 6.

    Output: one row (n_points, n_pairs, slope).
    """
    a = df.select(
        F.col(x_col).cast("double").alias("_xa"),
        F.col(y_col).cast("double").alias("_ya"),
    )
    b = df.select(
        F.col(x_col).cast("double").alias("_xb"),
        F.col(y_col).cast("double").alias("_yb"),
    )
    pairs = a.join(b, F.col("_xa") < F.col("_xb")).select(
        "_xa",
        "_xb",
        ((F.col("_yb") - F.col("_ya")) / (F.col("_xb") - F.col("_xa"))).alias(
            "_s"
        ),
    )
    n_pairs = pairs.count()
    mid = (n_pairs - 1) // 2  # lower middle, zero-based
    wr = W.orderBy(F.col("_s"), F.col("_xa"), F.col("_xb"))
    med = (
        pairs.select("_s", (F.row_number().over(wr) - 1).alias("_r"))
        .filter(F.col("_r") == mid)
        .select(F.round("_s", 6).alias("slope"))
    )
    n_points = df.count()
    return med.select(
        F.lit(n_points).cast("long").alias("n_points"),
        F.lit(n_pairs).cast("long").alias("n_pairs"),
        "slope",
    )


def trimmed_mean_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    trim_frac: float = 0.1,
) -> DataFrame:
    """Exact trimmed mean per group via a GROUPED-AGG pandas UDF
    (Series → scalar) — the remaining member of the Arrow UDF family
    (scalar, grouped-map, co-grouped-map, UDTF, applyInArrow,
    applyInPandasWithState are exercised elsewhere): drop the lowest
    and highest ``floor(trim_frac·n)`` values, mean the middle — the
    outlier-robust location estimate between mean (0% trim) and median
    (50%).

    The trim count is ``floor(n · trim_frac)`` with the SAME float
    product the SQL oracle computes (``floor(n*0.1)``), so the
    surviving MULTISET is engine-identical (ties don't matter — any
    representative of a tied value leaves the same survivors). Only
    the final mean differs in summation order; round 4 absorbs it.

    Scale shape: Arrow-batched partial aggregation per group — each
    group's values stream into one pandas Series (grouped-agg UDFs
    hold a group in memory: fine for bounded categories; billion-row
    groups should use the percentile_cont/winsorized formulation
    instead, `winsorized_mean_price`'s plan).
    """
    import math

    # module-scope pandas import (bottom of file) — the GROUPED_AGG
    # eval type is inferred from the (Series -> float) type hints,
    # which get_type_hints can only resolve against module globals
    # the UDF returns the UNROUNDED mean; F.round (HALF_UP, matching
    # DuckDB's half-away round) is applied in the select below —
    # Python's round() is half-even, which would silently break the
    # repo's rounding discipline even though binary doubles can't
    # represent an exact decimal tie
    @F.pandas_udf("double")
    def _tmean(v: pd.Series) -> float:
        a = v.dropna().sort_values().to_numpy()
        k = math.floor(len(a) * trim_frac)
        core = a[k : len(a) - k] if len(a) > 2 * k else a
        return float(core.mean()) if len(core) else None

    # Spark refuses to mix grouped-agg pandas UDFs with JVM aggregates
    # in one agg (INVALID_PANDAS_UDF_PLACEMENT), so the group size is
    # a second pandas aggregate, not F.count
    @F.pandas_udf("long")
    def _n(v: pd.Series) -> int:
        return int(v.notna().sum())

    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(group_col)
        .agg(
            _tmean(F.col(value_col).cast("double")).alias("_tm"),
            _n(F.col(value_col).cast("double")).alias("n"),
        )
        .select(
            F.col(group_col),
            F.round(F.col("_tm"), 4).alias("trimmed_mean"),
            "n",
        )
    )


import pandas as pd  # noqa: E402  (type-hint resolution for GROUPED_AGG UDFs)


def wilson_ci_proportion(
    df: DataFrame,
    group_col: str,
    success_expr,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Wilson score interval for a per-group proportion — the A/B-test
    readout for conversion rates (unlike the Wald interval it behaves
    at small n and extreme rates; z defaults to the two-sided 95%
    normal quantile, embedded as a literal so both engines use the
    identical constant).

    ``success_expr``: boolean Column marking a success. One group-keyed
    agg; the interval is per-row closed-form arithmetic (sqrt is the
    only libm step), rounded to 4.
    """
    agg = df.groupBy(group_col).agg(
        F.sum(F.when(success_expr, 1).otherwise(0)).alias("k"),
        F.count(F.lit(1)).alias("n"),
    )
    zl = F.lit(z)
    n = F.col("n")
    p = F.col("k") / n
    denom = F.lit(1.0) + zl * zl / n
    center = p + zl * zl / (F.lit(2.0) * n)
    half = zl * F.sqrt(
        p * (F.lit(1.0) - p) / n
        + zl * zl / (F.lit(4.0) * n * n)
    )
    return agg.select(
        F.col(group_col),
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.round(p, 4).alias("rate"),
        F.round((center - half) / denom, 4).alias("ci_lo"),
        F.round((center + half) / denom, 4).alias("ci_hi"),
    )


def cuped_adjustment(
    metric: DataFrame,
    covariate: DataFrame,
    key_col: str,
    group_col: str,
    y_col: str = "y",
    x_col: str = "x",
) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013): adjust the
    experiment metric with a pre-period covariate,
    ŷ = y − θ·(x − x̄), θ = cov(x,y)/var(x) — the industry-standard
    way to shrink A/B confidence intervals for free using history.

    θ and x̄ are computed over the JOINED population (covariate
    missing → x = 0, the no-history default); the per-group output
    reports raw and adjusted means plus the population-level variance
    reduction 1 − var(ŷ)/var(y). The same covar_pop/var_pop algebra
    the ``grouped_ols`` oracle certifies; floats round at 4/6.

    Scale shape: covariate joins on the entity key (key-partitioned
    hash join), one global 1-row moment aggregate broadcasts back,
    one group-keyed agg — no window, no driver loop.
    """
    from .dedup import _shared

    # the joined (key, group, y, x) frame feeds the moment aggregate,
    # the variance-reduction aggregate and the per-group means — each
    # consumer re-derived the metric⋈covariate join without the
    # checkpoint (measured r12: 6 parquet scans / 23 exchanges)
    j = _shared(metric.select(
        F.col(key_col), F.col(group_col),
        F.col(y_col).cast("double").alias("_y"),
    ).join(
        covariate.select(
            F.col(key_col), F.col(x_col).cast("double").alias("_x")
        ),
        key_col,
        "left",
    ).withColumn("_x", F.coalesce(F.col("_x"), F.lit(0.0))))
    mom = j.agg(
        (F.covar_pop("_x", "_y") / F.var_pop("_x")).alias("_theta"),
        F.avg("_x").alias("_xbar"),
        F.var_pop("_y").alias("_vy"),
    )
    adj = j.crossJoin(F.broadcast(mom)).withColumn(
        "_yadj",
        F.col("_y") - F.col("_theta") * (F.col("_x") - F.col("_xbar")),
    )
    reduction = adj.agg(
        F.round(
            F.lit(1.0) - F.var_pop("_yadj") / F.min("_vy"), 6
        ).alias("var_reduction")
    )
    return (
        adj.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("_y"), 4).alias("mean_raw"),
            F.round(F.avg("_yadj"), 4).alias("mean_adjusted"),
        )
        .crossJoin(F.broadcast(reduction))
    )


def difference_in_differences(
    df: DataFrame,
    treat_expr,
    period_expr,
    value_col: str,
) -> DataFrame:
    """Two-by-two difference-in-differences: the causal-inference
    workhorse for a natural experiment —

        DiD = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre)

    ``treat_expr``/``period_expr``: boolean Columns (True = treated /
    post period). Returns ONE row with the four cell means, cell
    counts, and the DiD estimate — computed from the UNROUNDED means
    and rounded once at the end (rounding cells first would compound
    four half-ulps into the estimate).

    One conditional aggregate pass; no join, no window.
    """
    cell = (
        F.when(treat_expr & period_expr, "treat_post")
        .when(treat_expr, "treat_pre")
        .when(period_expr, "ctrl_post")
        .otherwise("ctrl_pre")
    )
    v = F.col(value_col).cast("double")
    a = df.select(cell.alias("_c"), v.alias("_v")).agg(
        *[
            F.avg(F.when(F.col("_c") == c, F.col("_v"))).alias(f"m_{c}")
            for c in ("treat_pre", "treat_post", "ctrl_pre", "ctrl_post")
        ],
        *[
            F.sum(F.when(F.col("_c") == c, 1).otherwise(0)).alias(f"n_{c}")
            for c in ("treat_pre", "treat_post", "ctrl_pre", "ctrl_post")
        ],
    )
    did = (
        (F.col("m_treat_post") - F.col("m_treat_pre"))
        - (F.col("m_ctrl_post") - F.col("m_ctrl_pre"))
    )
    return a.select(
        *[
            F.col(f"n_{c}").cast("long").alias(f"n_{c}")
            for c in ("treat_pre", "treat_post", "ctrl_pre", "ctrl_post")
        ],
        *[
            F.round(F.col(f"m_{c}"), 4).alias(f"mean_{c}")
            for c in ("treat_pre", "treat_post", "ctrl_pre", "ctrl_post")
        ],
        F.round(did, 4).alias("did_estimate"),
    )


def srm_check(
    df: DataFrame,
    key_col: str,
    expected_frac_a: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Sample-ratio-mismatch check for a deterministic md5 traffic
    split: assign each key to variant A iff its md5-u16 falls below
    ``expected_frac_a``·65536 (the same splitter ``mixture_sample`` /
    the export CLI use), then chi-square the observed counts against
    the expected ratio — the guardrail that catches a broken
    assignment pipe before anyone reads the experiment.

    1-dof chi-square p-value via p = 2(1−Φ(√χ²)) with the same
    Abramowitz-Stegun polynomial as ``mann_whitney_u`` (neither engine
    ships a chi-square CDF). χ² itself is exact-integer arithmetic
    over the two counts divided by exact expectations — engine-exact
    before the final libm steps, all rounded at 4.

    Output: one row (n_a, n_b, expected_frac_a, chi2, p_value,
    srm_flag) with the flag on the ROUNDED p at the conventional
    0.001 guardrail.
    """
    u16 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}-"), F.col(key_col).cast("string"))),
            9,
            4,
        ),
        16,
        10,
    ).cast("long")
    is_a = u16 < F.lit(int(expected_frac_a * 65536))
    agg = df.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(is_a, 0).otherwise(1)).alias("n_b"),
    )
    n = F.col("n_a") + F.col("n_b")
    ea = n * F.lit(expected_frac_a)
    eb = n * F.lit(1.0 - expected_frac_a)
    chi2 = (F.col("n_a") - ea) * (F.col("n_a") - ea) / ea + (
        F.col("n_b") - eb
    ) * (F.col("n_b") - eb) / eb
    chi2_r = F.round(chi2, 4)
    p = F.round(_normal_sf_two_sided(F.sqrt(chi2_r)), 4)
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.lit(float(expected_frac_a)).alias("expected_frac_a"),
        chi2_r.alias("chi2"),
        p.alias("p_value"),
        (p < F.lit(0.001)).alias("srm_flag"),
    )


def hour_uniformity_tests_bh(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    fdr_q: float = 0.05,
) -> DataFrame:
    """Per-group chi-square test of hour-of-day uniformity with
    Benjamini–Hochberg FDR adjustment across the group family — the
    multiple-testing discipline a metrics platform needs when it runs
    one test per segment (per-test p at 0.05 over 100 segments
    guarantees false alarms; BH caps the expected false-discovery
    share at ``fdr_q``).

    χ² (23 dof) per group is exact-integer arithmetic over the 24
    observed/expected counts; its p-value uses the Wilson–Hilferty
    cube-root normal approximation z = ((χ²/k)^⅓ − (1−2/(9k))) /
    √(2/(9k)) through the same A&S Φ polynomial as ``mann_whitney_u``
    (no chi-square CDF in either engine). BH: rank groups by p
    ascending, p_adj(i) = min_{j≥i} (m/j)·p(j), capped at 1 — the
    running min computed over the |groups|-row family frame.

    Plan shape: one (group, hour) count agg → one group-keyed χ²
    reduce → windows over the |groups|-row family (aggregate-sized at
    any scale). Rejection flags compare ROUNDED p_adj.
    """
    counts = (
        df.select(F.col(group_col), F.hour(ts_col).alias("_h"))
        .groupBy(group_col, "_h")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    per_g = counts.groupBy(group_col).agg(
        F.sum("_c").alias("_n"),
        F.sum(F.col("_c") * F.col("_c")).alias("_ss"),
    )
    # uniform expectation e = n/24; chi2 = Σ(c−e)²/e = 24·Σc²/n − n
    # (missing hours contribute e = (0−e)²/e, which the closed form
    # absorbs — no need to materialize empty bins)
    chi2 = F.lit(24.0) * F.col("_ss") / F.col("_n") - F.col("_n")
    k = 23.0
    wh_z = (
        (F.cbrt(chi2 / F.lit(k)) - F.lit(1.0 - 2.0 / (9.0 * k)))
        / F.sqrt(F.lit(2.0 / (9.0 * k)))
    )
    # one-sided upper tail p = 1−Φ(z). The A&S polynomial is valid
    # for z ≥ 0 only; for z < 0 use the reflection 1−Φ(z) = 1−(1−Φ(−z))
    p = F.round(
        F.when(
            wh_z >= 0, F.lit(0.5) * _normal_sf_two_sided(wh_z)
        ).otherwise(
            F.lit(1.0) - F.lit(0.5) * _normal_sf_two_sided(-wh_z)
        ),
        4,
    )
    fam = per_g.select(
        F.col(group_col),
        F.round(chi2, 4).alias("chi2"),
        p.alias("p_value"),
    )
    # BH family size m = count(*) OVER () on the family frame itself
    # (the oracle's count(*) OVER ()) — NOT a separate fam.count()
    # job, which would recompute the whole chi-square pipeline.
    wr = W.orderBy(F.col("p_value"), F.col(group_col))
    wmin = W.orderBy(F.col("p_value").desc(), F.col(group_col).desc())
    wall = W.partitionBy()
    ranked = fam.withColumn("_r", F.row_number().over(wr)).withColumn(
        "_padj_raw",
        F.count(F.lit(1)).over(wall).cast("double")
        * F.col("p_value")
        / F.col("_r"),
    )
    adjusted = ranked.withColumn(
        "p_adj",
        F.round(F.least(F.min("_padj_raw").over(wmin), F.lit(1.0)), 4),
    )
    return adjusted.select(
        F.col(group_col),
        "chi2",
        "p_value",
        "p_adj",
        (F.col("p_adj") < F.lit(fdr_q)).alias("rejected"),
    )


def quantile_treatment_effect(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    n_quantiles: int = 10,
) -> DataFrame:
    """Quantile treatment effect: the per-decile difference between two
    slices' value distributions — where in the distribution an
    intervention moved mass (means hide tail-only effects; QTE shows
    them).

    Quantiles are EXACT lower order statistics (rank ⌈q·n⌉ by (value,
    row id tiebreak is unnecessary — the k-th order statistic VALUE is
    tie-invariant), the ``median_exact`` discipline), so both sides'
    quantile values and their differences are engine-exact raw parquet
    values; the emitted delta rounds to 4.

    Plan shape (the 100×-safe formulation): ranks come from
    ``layout.global_row_number`` over (group, value) — a sampled
    range exchange + per-partition row_number + broadcast prefix
    offsets — NOT a ``partitionBy(group)`` rank window, which would
    funnel the whole fact slice through two tasks (the
    low-cardinality-keyed twin of the single-partition window). The
    2·(n_quantiles−1) target ranks are computed FIRST from the
    two-row group-count aggregate (offset into the same global rank
    space) and broadcast-joined against the ranked frame — no
    ×n_quantiles crossJoin of fact rows ever exists.
    """
    from .layout import global_row_number

    sub = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        (F.col(group_col) == group_a).alias("_is_a"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    # global rank over (group, value): group-b rows (False) sort
    # first, so per-group rank = global rank − offset(group)
    ranked = global_row_number(sub, ["_is_a", "_v"], out_col="_grn")
    cnt = sub.groupBy("_is_a").agg(F.count(F.lit(1)).alias("_n"))
    # exclusive prefix offset per group via a tiny 2×2 self-join
    # (sum of counts of groups that sort earlier) — no window needed
    other = cnt.select(
        F.col("_is_a").alias("_o_is_a"), F.col("_n").alias("_o_n")
    )
    offs = (
        cnt.join(other, F.col("_o_is_a") < F.col("_is_a"), "left")
        .groupBy("_is_a", "_n")
        .agg(F.coalesce(F.sum("_o_n"), F.lit(0)).alias("_off"))
    )
    targets = offs.crossJoin(
        df.sparkSession.range(1, n_quantiles).select(
            F.col("id").cast("int").alias("q")
        )
    ).select(
        "_is_a",
        "q",
        (
            F.col("_off")
            + F.ceil(F.col("q") * F.col("_n") / n_quantiles)
        ).alias("_grn"),
    )
    from .dedup import _shared

    # the 2·(n_quantiles−1)-row quantile frame feeds both group
    # filters — checkpointed so the ranked broadcast-join runs once
    qs = _shared(ranked.join(F.broadcast(targets), ["_is_a", "_grn"]))
    a = qs.filter(F.col("_is_a")).select(
        "q", F.col("_v").alias("value_a")
    )
    b = qs.filter(~F.col("_is_a")).select(
        "q", F.col("_v").alias("value_b")
    )
    # explicit broadcast: qs is ≤2·(n_quantiles−1) rows by
    # construction, but the checkpoint hides that from the planner's
    # size estimate (an ExistingRDD defaults to huge → sort-merge)
    return (
        a.join(F.broadcast(b), "q")
        .select(
            "q",
            "value_a",
            "value_b",
            F.round(F.col("value_a") - F.col("value_b"), 4).alias("qte"),
        )
    )


def msprt_sequential_readout(
    df: DataFrame,
    date_col: str,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    sigma2: float = 2500.0,
    tau2: float = 25.0,
    alpha: float = 0.05,
) -> DataFrame:
    """Mixture-SPRT always-valid sequential test (Johari, Koomen,
    Pekelis, Walsh 2017, "Peeking at A/B tests") over the daily
    aggregate of a two-arm metric — the guardrail that makes DAILY
    monitoring of an experiment statistically sound: unlike the fixed-
    horizon z-test (whose per-look α explodes under repeated peeking),
    the mSPRT p-value is valid at EVERY day simultaneously.

    Known-variance normal mixture form. After day t the cumulative
    per-arm counts/sums give θ̂_t (difference of cumulative means) with
    effective sample size n_t = n_a·n_b/(n_a+n_b); with plug-in
    observation variance ``sigma2`` and mixture variance ``tau2``:

        log Λ_t = ½·ln(σ²/(σ² + n_t·τ²))
                  + τ²·n_t²·θ̂_t² / (2σ²(σ² + n_t·τ²))

    and the always-valid p is p_t = min(1, exp(−max_{s≤t} log Λ_s)),
    rejecting when p_t ≤ α. ``sigma2`` is the pre-registered plug-in
    (historical variance), a LITERAL in the plan so both engines use
    the identical constant — the standard practice for metric
    guardrails (variance drifts far slower than means).

    Determinism: daily sums are EXACT decimals cumulated by the
    window (one correctly-rounded decimal→double conversion per day);
    counts are exact ints; θ̂/n_t are then fixed IEEE expressions. The
    only libm steps are ln/exp: log Λ rounds to 6 BEFORE the running
    max (engine-exact extremum), and p is exp() of that already-
    rounded max, rounded to 4 — the ``mann_whitney_u`` discipline.

    Scale shape: one group-keyed daily aggregate over the fact slice,
    then two cumulative windows over the |days|-row aggregate frame
    (audit-whitelisted single partition — thousands of rows at any
    SF). The fact table shuffles once, by day.
    """
    zero = F.lit("0").cast("decimal(18,2)")
    sub = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        F.to_date(F.col(date_col)).alias("day"),
        (F.col(group_col) == group_a).alias("_ia"),
        F.col(value_col).cast("decimal(18,2)").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    daily = sub.groupBy("day").agg(
        F.sum(F.when(F.col("_ia"), 1).otherwise(0)).alias("_na"),
        F.sum(F.when(~F.col("_ia"), 1).otherwise(0)).alias("_nb"),
        F.sum(F.when(F.col("_ia"), F.col("_v")).otherwise(zero)).alias("_sa"),
        F.sum(F.when(~F.col("_ia"), F.col("_v")).otherwise(zero)).alias("_sb"),
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("_na").over(w).alias("_cna"),
        F.sum("_nb").over(w).alias("_cnb"),
        F.sum("_sa").over(w).alias("_csa"),
        F.sum("_sb").over(w).alias("_csb"),
    ).filter((F.col("_cna") > 0) & (F.col("_cnb") > 0))
    theta = (
        F.col("_csa").cast("double") / F.col("_cna")
        - F.col("_csb").cast("double") / F.col("_cnb")
    )
    neff = (
        F.col("_cna").cast("double")
        * F.col("_cnb")
        / (F.col("_cna") + F.col("_cnb"))
    )
    s2 = F.lit(float(sigma2))
    t2 = F.lit(float(tau2))
    denom = s2 + neff * t2
    llog = F.round(
        F.lit(0.5) * F.log(s2 / denom)
        + t2 * neff * neff * theta * theta / (F.lit(2.0) * s2 * denom),
        6,
    )
    staged = cum.select(
        "day",
        F.col("_cna").cast("long").alias("n_a"),
        F.col("_cnb").cast("long").alias("n_b"),
        F.round(theta, 4).alias("theta"),
        llog.alias("log_lambda"),
    )
    wmax = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    p = F.round(
        F.least(
            F.lit(1.0), F.exp(-F.max("log_lambda").over(wmax))
        ),
        4,
    )
    return staged.select(
        "day",
        "n_a",
        "n_b",
        "theta",
        "log_lambda",
        p.alias("p_always_valid"),
        (p <= F.lit(float(alpha))).alias("reject"),
    )


def _score_bins(
    df: DataFrame,
    score_col: str,
    label_expr,
    n_bins: int,
    lo: float,
    hi: float,
    with_score_sum: bool = False,
) -> DataFrame:
    """Shared fixed-width score-bin aggregate for the calibration
    readouts: (bin, n, pos[, _ssum]) over scores in [lo, hi), the
    top bin closed via least(). One place defines the bin-edge
    semantics so isotonic and ECE can never silently diverge."""
    width = (hi - lo) / float(n_bins)
    b = F.least(
        F.lit(n_bins - 1),
        F.floor(
            (F.col(score_col).cast("double") - F.lit(lo)) / F.lit(width)
        ),
    ).cast("int")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(label_expr, 1).otherwise(0)).alias("pos"),
    ]
    if with_score_sum:
        aggs.append(
            F.sum(F.col(score_col).cast("decimal(18,6)")).alias("_ssum")
        )
    return (
        df.filter(
            F.col(score_col).isNotNull()
            & (F.col(score_col) >= lo)
            & (F.col(score_col) < hi)
        )
        .groupBy(b.alias("bin"))
        .agg(*aggs)
    )


def isotonic_calibration_bins(
    df: DataFrame,
    score_col,
    label_expr,
    n_bins: int = 20,
    lo: float = 0.0,
    hi: float = 500.0,
) -> DataFrame:
    """Isotonic calibration of a classifier-style score against a
    boolean outcome, via the max-min characterization of isotonic
    regression over fixed score bins — the calibration step every
    learned quality filter needs before its scores can be thresholded
    as probabilities (Zadrozny & Elkan 2002; pool-adjacent-violators
    gives the same fit, but PAVA is inherently sequential — the
    max-min form is pure joins/aggregates over the bin frame):

        iso(i) = max_{j≤i} min_{k≥i} rate(j..k)

    where rate(j..k) is the pooled positive rate of bins j..k
    (weighted by bin counts). Scores are bucketed by fixed width over
    [lo, hi) (floor arithmetic — engine-exact assignment); the output
    is one row per non-empty bin: raw rate, calibrated (monotone)
    rate, and count.

    Determinism: bin rates are exact-integer ratios; the pooled rate
    for (j,k) is one IEEE division of exact cumulative ints, so the
    min/max lattice is engine-exact; only the emitted rounds differ
    in display. The j≤i≤k triple join runs over the B-row bin
    aggregate (B³ combinations at B=20 is 8000 slim rows — driver-
    free, and independent of fact size).

    Scale shape: one fact-table pass (bin hash-agg with map-side
    combine), then everything else on the B-row frame. The fact table
    never feeds a window and never joins anything.
    """
    bins = _score_bins(df, score_col, label_expr, n_bins, lo, hi)
    # pooled rate over a contiguous bin range needs cumulative (n,
    # pos); the bin frame is B rows, so the window is aggregate-sized
    wb = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    cum = bins.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(wb).alias("_cn"),
        F.sum("pos").over(wb).alias("_cp"),
    )
    j = cum.select(
        F.col("bin").alias("_j"),
        (F.col("_cn") - F.col("n")).alias("_cnj"),
        (F.col("_cp") - F.col("pos")).alias("_cpj"),
    )
    k = cum.select(
        F.col("bin").alias("_k"),
        F.col("_cn").alias("_cnk"),
        F.col("_cp").alias("_cpk"),
    )
    # all (j, k) range rates, j <= k — B² slim rows
    ranges = j.join(k, F.col("_j") <= F.col("_k")).select(
        "_j",
        "_k",
        (
            (F.col("_cpk") - F.col("_cpj")).cast("double")
            / (F.col("_cnk") - F.col("_cnj"))
        ).alias("_rate"),
    )
    i_frame = bins.select(F.col("bin").alias("_i"), "n", "pos")
    inner = (
        i_frame.join(
            ranges,
            (F.col("_j") <= F.col("_i")) & (F.col("_k") >= F.col("_i")),
        )
        .groupBy("_i", "n", "pos", "_j")
        .agg(F.min("_rate").alias("_minr"))
        .groupBy("_i", "n", "pos")
        .agg(F.max("_minr").alias("_iso"))
    )
    return inner.select(
        F.col("_i").alias("bin"),
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("pos").cast("double") / F.col("n"), 4
        ).alias("raw_rate"),
        F.round(F.col("_iso"), 4).alias("calibrated_rate"),
    )


def cohens_kappa(
    df: DataFrame,
    rater_a_col,
    rater_b_col,
) -> DataFrame:
    """Cohen's kappa between two categorical "raters" — the
    chance-corrected inter-annotator agreement every labeled-data QA
    pass reports (Cohen 1960): κ = (p_o − p_e)/(1 − p_e), with p_o
    the observed agreement and p_e the agreement expected from the
    raters' marginal distributions alone. For training-data curation
    the raters are typically two FILTERS (a rule panel vs a learned
    scorer): κ near 0 says the second filter adds an independent
    signal; κ near 1 says it is redundant.

    ``rater_a_col``/``rater_b_col``: Column expressions (cast to
    string internally so heterogeneous label types compare sanely).

    Determinism: the contingency and marginal tables are exact
    integer aggregates; p_o and p_e are two IEEE divisions of exact
    ints, κ one more — rounded at 4. κ is NULL when p_e = 1 (both
    raters constant — chance correction undefined).

    Scale shape: one pass to the |A|×|B| contingency aggregate; the
    marginal product joins run on category-sized frames.
    """
    cont = (
        df.select(
            F.col(rater_a_col).cast("string").alias("_a")
            if isinstance(rater_a_col, str)
            else rater_a_col.cast("string").alias("_a"),
            F.col(rater_b_col).cast("string").alias("_b")
            if isinstance(rater_b_col, str)
            else rater_b_col.cast("string").alias("_b"),
        )
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    totals = cont.agg(
        F.sum("_n").alias("n"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("_n")).otherwise(0)).alias(
            "_agree"
        ),
    )
    row_m = cont.groupBy(F.col("_a").alias("_cat")).agg(
        F.sum("_n").alias("_ra")
    )
    col_m = cont.groupBy(F.col("_b").alias("_cat")).agg(
        F.sum("_n").alias("_rb")
    )
    pe_num = (
        row_m.join(col_m, "_cat")
        .agg(F.sum(F.col("_ra") * F.col("_rb")).alias("_pe_num"))
    )
    po = F.col("_agree").cast("double") / F.col("n")
    pe = F.col("_pe_num").cast("double") / (
        F.col("n").cast("double") * F.col("n")
    )
    return (
        totals.crossJoin(F.broadcast(pe_num))
        .select(
            F.col("n").cast("long").alias("n"),
            F.round(po, 4).alias("p_observed"),
            F.round(pe, 4).alias("p_expected"),
            F.round(
                F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe)), 4
            ).alias("kappa"),
        )
    )


def expected_calibration_error(
    df: DataFrame,
    score_col: str,
    label_expr,
    n_bins: int = 20,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Expected calibration error of a probability-like score against
    a boolean outcome (Naeini et al. 2015; Guo et al. 2017) — the
    one-number companion to ``isotonic_calibration_bins``:

        ECE = Σ_b (n_b/N) · |rate_b − conf_b|,
        MCE = max_b |rate_b − conf_b|

    over fixed-width score bins, where rate_b is the empirical
    positive rate and conf_b the mean score in the bin.

    Determinism: counts are exact ints; the score sum per bin is an
    exact DECIMAL cumulated by the aggregate and converted to double
    ONCE per bin — rate/conf are then single IEEE divisions, and the
    weighted fold runs over the B-row frame in deterministic bin
    order via an exact integer-weighted sum. Rounded at 6.

    Scale shape: one fact-pass bin aggregate; everything else on B
    rows. One output row: (n, n_bins_used, ece, mce).
    """
    bins = _score_bins(
        df, score_col, label_expr, n_bins, lo, hi, with_score_sum=True
    ).select(
        F.col("bin").alias("_bin"),
        F.col("n").alias("_n"),
        F.col("pos").alias("_pos"),
        "_ssum",
    )
    gap = F.abs(
        F.col("_pos").cast("double") / F.col("_n")
        - F.col("_ssum").cast("double") / F.col("_n")
    )
    return bins.agg(
        F.sum("_n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("int").alias("n_bins_used"),
        F.round(
            F.sum(gap * F.col("_n")) / F.sum("_n"), 6
        ).alias("ece"),
        F.round(F.max(gap), 6).alias("mce"),
    )


def mde_readout(
    df: DataFrame,
    group_col: str,
    value_col: str,
    z_alpha: float = 1.959963984540054,
    z_power: float = 0.8416212335729143,
) -> DataFrame:
    """Minimum detectable effect per segment — the experiment-design
    readout that answers "how long must this test run": for a two-arm
    test splitting each segment's n evenly, the smallest true mean
    shift detectable at significance α (two-sided) with the given
    power is

        MDE = (z_{1−α/2} + z_{power}) · sqrt(2σ²/(n/2))

    with both normal quantiles embedded as LITERALS (95% / 80% by
    default) so the engines share the identical constants — the same
    discipline as ``wilson_ci_proportion``.

    σ² is the segment's population variance computed from EXACT
    decimal sums (Σv, Σv² cumulated as decimals, converted once each
    to double): var = (Σv² − (Σv)²/n)/n is then a fixed IEEE
    expression — engine-identical, immune to float-summation order.

    One group-keyed aggregate over the fact slice; closed-form row
    arithmetic after. Output per segment: n, mean, sd, mde_abs,
    mde_rel (rounded 4/6).
    """
    d = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col),
        F.col(value_col).cast("decimal(18,2)").alias("_v"),
    )
    agg = d.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_v").alias("_s1"),
        F.sum(
            (F.col("_v") * F.col("_v")).cast("decimal(38,4)")
        ).alias("_s2"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    # greatest(..., 0): the closed form can round to a tiny NEGATIVE
    # for constant segments (measured ~-4e-19 on single-value
    # 2-decimal segments) — unguarded, DuckDB's sqrt RAISES while
    # Spark emits NaN; clamp on both sides
    var = F.greatest((s2 - s1 * s1 / n) / n, F.lit(0.0))
    mean = s1 / n
    zsum = F.lit(float(z_alpha) + float(z_power))
    mde = zsum * F.sqrt(F.lit(4.0) * var / n)
    return agg.select(
        F.col(group_col),
        F.col("n").cast("long").alias("n"),
        F.round(mean, 4).alias("mean"),
        F.round(F.sqrt(var), 4).alias("sd"),
        F.round(mde, 4).alias("mde_abs"),
        F.round(
            F.when(mean != 0, mde / mean), 6
        ).alias("mde_rel"),
    )


def energy_distance_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    max_distinct: int | None = 1_000_000,
) -> DataFrame:
    """Exact two-sample energy distance (Székely & Rizzo 2004) between
    two slices' 1-D value distributions:

        D² = 2·E|X−Y| − E|X−X'| − E|Y−Y'|

    — the distributional drift statistic that, unlike KS (a sup over
    the CDF gap), weights the WHOLE distribution and stays sensitive
    to tail-only and variance-only shifts; D = 0 iff the
    distributions are equal.

    Mean pairwise distances are computed WITHOUT the quadratic pair
    join, via the sorted-prefix identity over the per-DISTINCT-VALUE
    aggregate (the ``mann_whitney_u`` shape): for merged sorted
    values v_j with per-group counts a_j, b_j,

        Σ_{i<j}(v_j−v_i)·a_i·b_j = Σ_j b_j·(v_j·A_j − SA_j)

    with A_j, SA_j the exclusive prefix count and value-weighted
    prefix sum. Values are cast to exact DECIMAL(18,2) so every
    prefix sum, product, and the three cross sums are EXACT decimal
    arithmetic — no float-summation order anywhere; the only IEEE
    steps are the three final divisions, one subtraction, and the
    square root, rounded at 6.

    Scale shape: the fact slice reduces to the |distinct values|-row
    aggregate in one shuffle; one ordered window over that aggregate
    (audit-whitelisted single partition — value-cardinality-sized),
    one 1-row reduce. Output: (n_a, n_b, e_xy, e_xx, e_yy,
    energy_distance).

    Cardinality contract: see ``_guard_value_cardinality`` — the
    window input is value-cardinality-sized, guarded by the
    ``max_distinct`` pre-check (None skips it).
    """
    pooled = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        (F.col(group_col) == group_a).alias("_ia"),
        F.col(value_col).cast("decimal(18,2)").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    _guard_value_cardinality(
        pooled, ["_v"], max_distinct, "energy_distance_two_sample"
    )
    per_v = pooled.groupBy("_v").agg(
        F.sum(F.when(F.col("_ia"), 1).otherwise(0)).alias("_a"),
        F.sum(F.when(~F.col("_ia"), 1).otherwise(0)).alias("_b"),
    )
    wv = W.orderBy(F.col("_v")).rowsBetween(
        W.unboundedPreceding, -1
    )
    # exclusive prefix counts and value-weighted prefix sums — all
    # exact decimals/longs (sum over an empty frame is NULL → 0)
    zero_d = F.lit("0").cast("decimal(38,2)")
    pre = per_v.select(
        "_v",
        "_a",
        "_b",
        F.coalesce(F.sum("_a").over(wv), F.lit(0)).alias("_ca"),
        F.coalesce(F.sum("_b").over(wv), F.lit(0)).alias("_cb"),
        F.coalesce(
            F.sum(
                (F.col("_v") * F.col("_a")).cast("decimal(38,2)")
            ).over(wv),
            zero_d,
        ).alias("_sa"),
        F.coalesce(
            F.sum(
                (F.col("_v") * F.col("_b")).cast("decimal(38,2)")
            ).over(wv),
            zero_d,
        ).alias("_sb"),
    )
    # Σ_j over the aggregate: every term is exact decimal. Bounded
    # casts keep every product within DuckDB's 38-digit multiply cap
    # (p1+p2 <= 38): the prefix term fits DECIMAL(19,2) (v·A ~ 1e9 at
    # any realistic slice), counts fit DECIMAL(18,0) — 19+18 = 37.
    va = (F.col("_v") * F.col("_ca") - F.col("_sa")).cast(
        "decimal(19,2)"
    )  # v_j·A_j − SA_j
    vb = (F.col("_v") * F.col("_cb") - F.col("_sb")).cast(
        "decimal(19,2)"
    )
    a_d = F.col("_a").cast("decimal(18,0)")
    b_d = F.col("_b").cast("decimal(18,0)")
    agg = pre.agg(
        F.sum("_a").alias("n_a"),
        F.sum("_b").alias("n_b"),
        F.sum(
            (b_d * va).cast("decimal(38,2)")
            + (a_d * vb).cast("decimal(38,2)")
        ).alias("_sxy"),
        F.sum((a_d * va).cast("decimal(38,2)")).alias("_sxx"),
        F.sum((b_d * vb).cast("decimal(38,2)")).alias("_syy"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    # empty-group guard: 0/0 would be IEEE NaN on both engines — emit
    # NULL instead (the mann_whitney var=0 discipline)
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    e_xy = F.when(both, F.col("_sxy").cast("double") / (na * nb))
    e_xx = F.when(
        both, F.lit(2.0) * F.col("_sxx").cast("double") / (na * na)
    )
    e_yy = F.when(
        both, F.lit(2.0) * F.col("_syy").cast("double") / (nb * nb)
    )
    d2 = F.lit(2.0) * e_xy - e_xx - e_yy
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(e_xy, 6).alias("e_xy"),
        F.round(e_xx, 6).alias("e_xx"),
        F.round(e_yy, 6).alias("e_yy"),
        # greatest() ignores NULLs on both engines, so the guard must
        # wrap the sqrt too or an absent group reads as distance 0
        F.round(
            F.when(both, F.sqrt(F.greatest(d2, F.lit(0.0)))), 6
        ).alias("energy_distance"),
    )


def embedding_dim_moments(
    df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-DIMENSION moments of an embedding column — the embedding
    QA audit that catches dead dimensions (std ~ 0), scale drift
    between model versions (per-dim mean/std shifts), and stuck-at-
    zero components (zero_frac), none of which per-ROW norms can see.

    Cross-row sums use the ``pca_2d_exact`` discipline: each float32
    component (exact in double) is cast once to DECIMAL(13,10), so
    Σx and Σx² are EXACT decimal aggregates converted to double via
    one correctly-rounded conversion each; mean and population std
    are then fixed IEEE expressions — engine-identical regardless of
    partition/summation order. min/max/zero-count are order-free.

    Scale shape: one posexplode pass (rows × dim slim pairs) into a
    dim-keyed hash agg with map-side combine — |dims| output rows, no
    window, no join.
    """
    d = df.select(
        F.posexplode(F.col(vec_col)).alias("dim", "_xf")
    ).select(
        "dim",
        F.col("_xf").cast("double").alias("_xd"),
    )
    x = F.col("_xd").cast("decimal(13,10)")
    agg = d.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_s1"),
        F.sum((x * x).cast("decimal(26,20)")).alias("_s2"),
        F.min("_xd").alias("_mn"),
        F.max("_xd").alias("_mx"),
        F.sum(F.when(F.col("_xd") == 0.0, 1).otherwise(0)).alias("_z"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    var = (s2 - s1 * s1 / n) / n
    return agg.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n").cast("long").alias("n"),
        F.round(s1 / n, 6).alias("mean"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std"),
        F.round(F.col("_mn"), 6).alias("min"),
        F.round(F.col("_mx"), 6).alias("max"),
        F.round(F.col("_z").cast("double") / n, 6).alias("zero_frac"),
    )


def cmh_odds_ratio(
    df: DataFrame,
    stratum_col: str,
    exposure_expr,
    outcome_expr,
) -> DataFrame:
    """Cochran–Mantel–Haenszel pooled odds ratio across strata — the
    confounder-adjusted effect readout (Mantel & Haenszel 1959): per
    stratum k with 2×2 cells (a=exposed·outcome, b=exposed·no,
    c=unexposed·outcome, d=unexposed·no, n=a+b+c+d),

        OR_MH = Σ_k (a_k·d_k / n_k) / Σ_k (b_k·c_k / n_k)

    — the stratified answer to Simpson's paradox that a crude pooled
    2×2 gets wrong.

    Determinism: cells are exact integers; each stratum's a·d/n is
    ONE IEEE division of exact ints; the cross-stratum sums run as a
    cumulative window in STRATUM ORDER (a sequential fold, like the
    within-array HOF folds — both engines add in the identical
    order), so the final ratio is engine-identical before its round.
    The strata frame is category-sized; the window is the
    audit-whitelisted aggregate-frame kind.

    Output one row: (n_strata, n, or_mh, log_or_mh).
    """
    cells = (
        df.select(
            F.col(stratum_col).alias("_k"),
            exposure_expr.alias("_e"),
            outcome_expr.alias("_o"),
        )
        .groupBy("_k")
        .agg(
            F.sum(F.when(F.col("_e") & F.col("_o"), 1).otherwise(0)).alias("_a"),
            F.sum(F.when(F.col("_e") & ~F.col("_o"), 1).otherwise(0)).alias("_b"),
            F.sum(F.when(~F.col("_e") & F.col("_o"), 1).otherwise(0)).alias("_c"),
            F.sum(F.when(~F.col("_e") & ~F.col("_o"), 1).otherwise(0)).alias("_d"),
        )
    )
    nk = F.col("_a") + F.col("_b") + F.col("_c") + F.col("_d")
    w = W.orderBy("_k").rowsBetween(W.unboundedPreceding, 0)
    run = cells.select(
        "_k",
        nk.alias("_n"),
        F.sum(
            F.col("_a").cast("double") * F.col("_d") / nk
        ).over(w).alias("_num"),
        F.sum(
            F.col("_b").cast("double") * F.col("_c") / nk
        ).over(w).alias("_den"),
        F.sum(F.col("_a") + F.col("_b") + F.col("_c") + F.col("_d"))
        .over(w)
        .alias("_tot"),
        F.row_number()
        .over(W.orderBy(F.col("_k").desc()))
        .alias("_rev"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("_ns"),
    )
    last = run.filter(F.col("_rev") == 1)
    orr = F.when(F.col("_den") > 0, F.col("_num") / F.col("_den"))
    # ln(0) guard: an OR of exactly 0 (no exposed-outcome cell in any
    # stratum) RAISES in DuckDB while Spark's log returns NULL —
    # CASE WHEN num > 0 on both sides
    log_or = F.when(
        (F.col("_den") > 0) & (F.col("_num") > 0),
        F.log(F.col("_num") / F.col("_den")),
    )
    return last.select(
        F.col("_ns").cast("int").alias("n_strata"),
        F.col("_tot").cast("long").alias("n"),
        F.round(orr, 6).alias("or_mh"),
        F.round(log_or, 6).alias("log_or_mh"),
    )


def overdispersion_check(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    threshold: float = 1.5,
) -> DataFrame:
    """Overdispersion (variance-to-mean ratio) of DAILY event counts
    per segment — the check that says whether a count metric is
    Poisson-like (dispersion ≈ 1, so Poisson/normal intervals are
    valid) or clumped (dispersion ≫ 1: bursts, bots, batch effects —
    every CI built on the Poisson assumption is too narrow).

    All arithmetic is exact integers until the closed form: per-day
    counts are exact, Σc and Σc² are exact integer aggregates, so
    mean, population variance, and the dispersion index are fixed
    IEEE expressions — engine-identical. One (group, day) count agg,
    one group agg. Output per group: (group, n_days, mean_daily,
    var_daily, dispersion, overdispersed).
    """
    daily = (
        df.select(F.col(group_col), F.to_date(F.col(ts_col)).alias("_d"))
        .groupBy(group_col, "_d")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    agg = daily.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("_c").alias("_s1"),
        F.sum(F.col("_c") * F.col("_c")).alias("_s2"),
    )
    n = F.col("n_days").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    mean = s1 / n
    var = (s2 - s1 * s1 / n) / n
    disp = F.when(mean > 0, var / mean)
    return agg.select(
        F.col(group_col),
        F.col("n_days").cast("long").alias("n_days"),
        F.round(mean, 4).alias("mean_daily"),
        F.round(var, 4).alias("var_daily"),
        F.round(disp, 4).alias("dispersion"),
        (disp > F.lit(float(threshold))).alias("overdispersed"),
    )


def split_conformal_interval(
    df: DataFrame,
    date_col: str,
    value_col: str,
    season: int = 7,
    calib_frac: float = 0.5,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal prediction interval around the seasonal-naive
    forecaster (Vovk et al.; Lei et al. 2018) — the
    distribution-free uncertainty readout: take |residual| scores on
    a CALIBRATION prefix of the series, use their ⌈(n+1)(1−α)⌉-th
    order statistic as the interval half-width q̂, and report the
    EMPIRICAL COVERAGE of ŷ ± q̂ on the held-out suffix. Under
    exchangeability the true coverage is ≥ 1−α — the guarantee every
    learned forecaster's intervals should be checked against.

    Determinism: the calendar split point is ⌊n·calib_frac⌋ by day
    rank (exact ints); scores are |y − y_lag| on exact decimal daily
    values (one IEEE subtraction each); q̂ is an exact order
    statistic by (score, day) rank — engine-exact; coverage is an
    exact-integer ratio.

    Scale shape: one day-keyed aggregate off the fact slice, then
    three windows over the |days|-row aggregate frame
    (audit-whitelisted). Output one row: (n_calib, n_test, q_hat,
    coverage, target_coverage).
    """
    daily = df.groupBy(
        F.to_date(F.col(date_col)).alias("_d")
    ).agg(
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_y")
    )
    w = W.orderBy("_d")
    fc = daily.select(
        "_d",
        F.col("_y").cast("double").alias("_yd"),
        F.lag(F.col("_y").cast("double"), season).over(w).alias("_f"),
        F.row_number().over(w).alias("_r"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("_n"),
    ).filter(F.col("_f").isNotNull())
    scored = fc.select(
        "_d",
        (F.abs(F.col("_yd") - F.col("_f"))).alias("_s"),
        (
            F.col("_r")
            <= F.floor(F.col("_n") * F.lit(float(calib_frac)))
        ).alias("_is_calib"),
    )
    calib = scored.filter(F.col("_is_calib"))
    wq = W.orderBy(F.col("_s"), F.col("_d"))
    ranked = calib.select(
        "_s",
        F.row_number().over(wq).alias("_rk"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("_nc"),
    )
    # conformal rank ⌈(n+1)(1−α)⌉, capped at n (small-n degenerate)
    target_rk = F.least(
        F.col("_nc"),
        F.ceil(
            (F.col("_nc") + 1) * F.lit(1.0 - float(alpha))
        ).cast("int"),
    )
    qhat = ranked.filter(F.col("_rk") == target_rk).select(
        F.col("_s").alias("_q")
    )
    test = scored.filter(~F.col("_is_calib"))
    return (
        test.crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).alias("_nt"),
            F.sum(
                F.when(F.col("_s") <= F.col("_q"), 1).otherwise(0)
            ).alias("_cov"),
            F.max("_q").alias("_qv"),
        )
        .crossJoin(
            F.broadcast(
                calib.agg(F.count(F.lit(1)).alias("_ncal"))
            )
        )
        .select(
            F.col("_ncal").cast("long").alias("n_calib"),
            F.col("_nt").cast("long").alias("n_test"),
            F.round(F.col("_qv"), 2).alias("q_hat"),
            F.round(
                F.col("_cov").cast("double") / F.col("_nt"), 4
            ).alias("coverage"),
            F.lit(1.0 - float(alpha)).alias("target_coverage"),
        )
    )


def wasserstein_1d(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    max_distinct: int | None = 1_000_000,
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth-mover) distance between two
    slices' value distributions — THE distribution-shift metric of ML
    monitoring (units of the value itself: "how far, on average, must
    probability mass move"), computed from the closed form

        W₁ = Σ_i |F_a(v_i) − F_b(v_i)| · (v_{i+1} − v_i)

    over the merged sorted distinct values. The CDF gap is kept as an
    EXACT integer: |F_a − F_b| = |ca·n_b − cb·n_a| / (n_a·n_b) with
    ca/cb the inclusive cumulative counts; multiplied by the exact
    DECIMAL value gap and summed exactly, the single IEEE step is the
    final division by n_a·n_b. Engine-identical to the last bit
    before its round(4).

    Scale shape: the ``mann_whitney_u``/``energy_distance`` shape —
    one per-distinct-value aggregate off the fact slice, one ordered
    window over that aggregate (audit-whitelisted), one 1-row reduce.

    Cardinality contract: see ``_guard_value_cardinality`` — the
    window input is value-cardinality-sized, guarded by the
    ``max_distinct`` pre-check (None skips it).
    """
    pooled = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        (F.col(group_col) == group_a).alias("_ia"),
        F.col(value_col).cast("decimal(18,2)").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    _guard_value_cardinality(pooled, ["_v"], max_distinct, "wasserstein_1d")
    per_v = pooled.groupBy("_v").agg(
        F.sum(F.when(F.col("_ia"), 1).otherwise(0)).alias("_a"),
        F.sum(F.when(~F.col("_ia"), 1).otherwise(0)).alias("_b"),
    )
    wv = W.orderBy("_v").rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy()
    wl = W.orderBy("_v")
    pre = per_v.select(
        "_v",
        F.sum("_a").over(wv).alias("_ca"),
        F.sum("_b").over(wv).alias("_cb"),
        F.sum("_a").over(wall).alias("_na"),
        F.sum("_b").over(wall).alias("_nb"),
        F.lead("_v").over(wl).alias("_vn"),
    )
    gap = F.col("_vn") - F.col("_v")  # exact decimal
    # products in DECIMAL, not long: ca·n_b can pass 2^63 at ~3e9 rows
    # per group, where long silently wraps (ANSI off) while the DuckDB
    # oracle's HUGEINT does not. decimal(19,0)·decimal(19,0) → exact
    # decimal(38,0) for the gap products themselves; the BINDING bound
    # is the term product decimal(38,2): exact while
    # n_a·n_b·(value range) < 10^36 (e.g. two 10^15-row groups over a
    # 10^4-wide range). Past that, ANSI-off overflows terms to NULL
    # and F.sum would silently skip them — run with ANSI on at that
    # scale to fail loudly instead.
    _dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    cdf_gap = F.abs(
        _dec("_ca") * _dec("_nb") - _dec("_cb") * _dec("_na")
    )  # exact decimal(38,0)
    term = (cdf_gap * gap.cast("decimal(19,2)")).cast("decimal(38,2)")
    agg = pre.agg(
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
        F.sum(F.when(F.col("_vn").isNotNull(), term)).alias("_w"),
    )
    # guard the one-sided/empty case: with a group absent the ratio
    # is 0/0 (IEEE NaN under both engines) — emit NULL instead, the
    # ANSI discipline the other two-sample stats follow
    # coalesce(_w, 0): a single distinct pooled value has no gaps, so
    # the conditional sum is NULL — the true distance is 0
    w1 = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        F.coalesce(F.col("_w").cast("double"), F.lit(0.0))
        / (F.col("n_a").cast("double") * F.col("n_b")),
    )
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(w1, 4).alias("wasserstein_1"),
    )


def spearman_correlation(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_distinct: int | None = 1_000_000,
) -> DataFrame:
    """Tie-corrected Spearman rank correlation — the monotonic-
    association readout robust to outliers and nonlinearity that
    Pearson corr misses, formulated WITHOUT ranking individual rows:

    each variable's midranks come from its per-DISTINCT-VALUE count
    aggregate (exclusive prefix + (cnt+1)/2, the ``mann_whitney_u``
    shape), DOUBLED so they are exact integers, and joined back to
    the rows by value (key-partitioned hash joins — the rank maps are
    value-cardinality-sized). ρ is then Pearson on the doubled ranks
    (scale-invariant): every sufficient statistic (n, Σrx, Σry,
    Σrx², Σry², Σrx·ry) is an EXACT integer kept in DECIMAL, the
    covariance/variance numerators are exact decimal algebra, and
    the only IEEE steps are three conversions, one sqrt, one divide.

    Scale shape: two per-value aggregates + two ordered windows over
    those aggregates (audit-whitelisted), two value-keyed joins back
    to the fact slice, one 1-row reduce.

    Cardinality contract: see ``_guard_value_cardinality`` — the
    window input is value-cardinality-sized, guarded by the
    ``max_distinct`` pre-check (None skips it).
    """
    d = df.select(
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    ).filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    _guard_value_cardinality(
        d, ["_x", "_y"], max_distinct, "spearman_correlation"
    )

    def _rank_map(col: str):
        per = d.groupBy(col).agg(F.count(F.lit(1)).alias("_c"))
        w = W.orderBy(F.col(col)).rowsBetween(
            W.unboundedPreceding, -1
        )
        # doubled midrank 2·(excl + (c+1)/2) = 2·excl + c + 1: exact int
        return per.select(
            col,
            (
                F.lit(2) * F.coalesce(F.sum("_c").over(w), F.lit(0))
                + F.col("_c")
                + F.lit(1)
            ).alias(f"_r{col}"),
        )
    rx = _rank_map("_x")
    ry = _rank_map("_y")
    j = d.join(rx, "_x").join(ry, "_y")
    agg = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_r_x").cast("decimal(28,0)")).alias("_sx"),
        F.sum(F.col("_r_y").cast("decimal(28,0)")).alias("_sy"),
        F.sum(
            (F.col("_r_x").cast("decimal(19,0)")
             * F.col("_r_x").cast("decimal(19,0)")).cast("decimal(38,0)")
        ).alias("_sxx"),
        F.sum(
            (F.col("_r_y").cast("decimal(19,0)")
             * F.col("_r_y").cast("decimal(19,0)")).cast("decimal(38,0)")
        ).alias("_syy"),
        F.sum(
            (F.col("_r_x").cast("decimal(19,0)")
             * F.col("_r_y").cast("decimal(19,0)")).cast("decimal(38,0)")
        ).alias("_sxy"),
    )
    # bounded casts sized for n up to ~1.3e9 rows: Σr² ≤ 4n³ needs 28
    # digits there, n needs 10 — product precision 38 (DuckDB's cap);
    # Σr ≤ 2n² needs 19, squared = 38. Beyond ~1.3e9 rows the
    # cross-products leave decimal range — pre-aggregate first.
    n10 = F.col("n").cast("decimal(10,0)")
    num = (
        n10 * F.col("_sxy").cast("decimal(28,0)")
        - F.col("_sx").cast("decimal(19,0)")
        * F.col("_sy").cast("decimal(19,0)")
    )
    vx = (
        n10 * F.col("_sxx").cast("decimal(28,0)")
        - F.col("_sx").cast("decimal(19,0)")
        * F.col("_sx").cast("decimal(19,0)")
    )
    vy = (
        n10 * F.col("_syy").cast("decimal(28,0)")
        - F.col("_sy").cast("decimal(19,0)")
        * F.col("_sy").cast("decimal(19,0)")
    )
    rho = F.when(
        (vx > 0) & (vy > 0),
        num.cast("double")
        / F.sqrt(vx.cast("double") * vy.cast("double")),
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(rho, 6).alias("spearman_rho"),
    )


def cramers_v(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Cramér's V association between two categorical columns — the
    [0,1]-normalized effect size the raw χ² lacks (χ² grows with n;
    V answers "how strongly are these related"):

        V = sqrt( (χ²/n) / (min(r,c) − 1) ),
        χ² = n·(Σ_ij o_ij²/(row_i·col_j) − 1)

    Determinism: the contingency and marginal tables are exact
    integers; each cell's o²/(row·col) is one IEEE division of exact
    ints, and the cross-cell sum runs as a sequential window fold in
    (a, b) cell order — both engines add in the identical order (the
    ``cmh_odds_ratio`` discipline). Output one row: (n, n_rows_cat,
    n_cols_cat, chi2, cramers_v).
    """
    # NULL categories are excluded by contract (and the marginal
    # joins would silently drop them on the Spark side anyway while a
    # SQL oracle's GROUP BY keeps them — an engine-divergence trap)
    cont = (
        df.filter(
            F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
        )
        .select(
            F.col(a_col).cast("string").alias("_a"),
            F.col(b_col).cast("string").alias("_b"),
        )
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("_o"))
    )
    rm = cont.groupBy("_a").agg(F.sum("_o").alias("_ra"))
    cm = cont.groupBy("_b").agg(F.sum("_o").alias("_cb"))
    cells = cont.join(F.broadcast(rm), "_a").join(
        F.broadcast(cm), "_b"
    )
    term = (
        F.col("_o").cast("double")
        * F.col("_o")
        / (F.col("_ra").cast("double") * F.col("_cb"))
    )
    w = W.orderBy("_a", "_b").rowsBetween(W.unboundedPreceding, 0)
    run = cells.select(
        "_a",
        "_b",
        F.sum(term).over(w).alias("_s"),
        F.sum("_o").over(w).alias("_n"),
        F.size(F.collect_set("_a").over(W.partitionBy())).alias("_nr"),
        F.size(F.collect_set("_b").over(W.partitionBy())).alias("_nc"),
        F.row_number()
        .over(W.orderBy(F.col("_a").desc(), F.col("_b").desc()))
        .alias("_rev"),
    )
    last = run.filter(F.col("_rev") == 1)
    n = F.col("_n").cast("double")
    chi2 = n * (F.col("_s") - F.lit(1.0))
    k = F.least(F.col("_nr"), F.col("_nc")) - F.lit(1)
    v = F.when(
        k > 0, F.sqrt(F.greatest(chi2 / n / k, F.lit(0.0)))
    )
    return last.select(
        F.col("_n").cast("long").alias("n"),
        F.col("_nr").cast("int").alias("n_rows_cat"),
        F.col("_nc").cast("int").alias("n_cols_cat"),
        F.round(chi2, 4).alias("chi2"),
        F.round(v, 6).alias("cramers_v"),
    )


def krippendorff_alpha_binary(
    df: DataFrame,
    id_col: str,
    rating_cols: list,
) -> DataFrame:
    """Krippendorff's alpha for BINARY ratings from multiple raters —
    the inter-annotator agreement statistic that, unlike Cohen's
    kappa (two raters, no missing), handles any number of raters and
    items with missing ratings (an item counts while ≥2 of its
    ratings are present). The labeled-data QA readout for
    multi-heuristic / multi-annotator filter panels: alpha ≥ 0.8 is
    conventionally "reliable", ≤ 0 is chance-level.

    Math (Krippendorff 2004, nominal data, binary): per item u with
    n_u0 zeros and n_u1 ones (m_u = n_u0 + n_u1 ≥ 2), observed
    disagreement D_o = Σ_u 2·n_u0·n_u1/(m_u−1) / Σ_u m_u; expected
    D_e = 2·N_0·N_1 / (N·(N−1)) with N = Σm_u; alpha = 1 − D_o/D_e.

    Exactness: all counts are exact integers; 2·n_u0·n_u1/(m_u−1)
    divides by 1 or 2 for ≤3 raters (exact dyadic doubles — the
    documented regime; ≥4 raters introduces /3, still far inside the
    round-6 display), and alpha is a fixed expression over the 1-row
    totals.

    Scale shape: one explode of the rating array (items × raters slim
    rows), one item-keyed hash aggregate, one 1-row total — map-side
    partials everywhere, no window, no join.

    Output: 1 row — (n_items, n_ratings, n_pos, n_neg, d_observed,
    d_expected, alpha).
    """
    arr = F.array(*[F.col(c).cast("int") for c in rating_cols])
    per = (
        df.select(F.col(id_col).alias("_u"), F.explode(arr).alias("_v"))
        .filter(F.col("_v").isNotNull())
    )
    item = (
        per.groupBy("_u")
        .agg(
            F.sum(F.when(F.col("_v") == 1, 1).otherwise(0)).alias("_n1"),
            F.sum(F.when(F.col("_v") == 0, 1).otherwise(0)).alias("_n0"),
        )
        .filter(F.col("_n0") + F.col("_n1") >= 2)
    )
    m = F.col("_n0") + F.col("_n1")
    tot = item.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(m).cast("long").alias("n_ratings"),
        F.sum("_n1").cast("long").alias("n_pos"),
        F.sum("_n0").cast("long").alias("n_neg"),
        F.sum(
            F.lit(2.0)
            * F.col("_n0")
            * F.col("_n1")
            / (m - F.lit(1)).cast("double")
        ).alias("_sd"),
    )
    n = F.col("n_ratings").cast("double")
    d_o = F.col("_sd") / n
    d_e = (
        F.lit(2.0)
        * F.col("n_pos")
        * F.col("n_neg")
        / (n * (n - F.lit(1.0)))
    )
    return tot.select(
        "n_items",
        "n_ratings",
        "n_pos",
        "n_neg",
        F.round(d_o, 6).alias("d_observed"),
        F.round(d_e, 6).alias("d_expected"),
        F.round(F.when(d_e > 0.0, F.lit(1.0) - d_o / d_e), 6).alias(
            "alpha"
        ),
    )


def mann_kendall_trend(
    d: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Mann–Kendall trend test over an (x, y) series — the
    nonparametric significance companion to ``theil_sen_slope``
    (Theil–Sen says HOW steep, Mann–Kendall says WHETHER the monotone
    trend is real): S = Σ_{i<j} sign(y_j − y_i), the tie-corrected
    variance Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18, and the
    continuity-corrected Z.

    Exactness: S and both variance terms are exact integers (sign
    comparisons of engine-identical doubles, tie groups from an exact
    value aggregate); Z is one division + sqrt, rounded at 4.

    Scale shape: the caller hands in the AGGREGATE series (daily
    revenue — calendar-bounded), so the pairwise sign join is
    quadratic in days, never in facts — the ``theil_sen`` discipline;
    ties and totals are 1-row frames broadcast back.

    INPUT-SIZE BOUND (hard contract): the series is force-broadcast
    into the pair join (the checkpoint hides its size statistics from
    the planner, which would otherwise default the nested-loop join
    to a huge estimate). A broadcast side must stay well under
    Spark's 8 GB / 512M-row relation cap — tens of thousands of
    points is fine (a decade of daily aggregates is ~3.7K rows); a
    caller passing raw FACTS violates both this bound and the O(n²)
    pair semantics. Aggregate to the calendar grain first.

    Output: 1 row — (n_points, n_pairs, s_statistic, var_s, z).
    """
    from .dedup import _shared

    # the calendar-bounded series feeds both pair-join sides, the
    # point-count aggregate and the tie aggregate — checkpointed so
    # the caller's upstream aggregation runs once, not four times
    d = _shared(d.select(F.col(x_col), F.col(y_col)))
    a = d.select(F.col(x_col).alias("_xa"), F.col(y_col).alias("_ya"))
    b = d.select(F.col(x_col).alias("_xb"), F.col(y_col).alias("_yb"))
    # explicit broadcast for the non-equi pair join: the series is
    # calendar-bounded by contract, and the checkpoint hides its size
    # from the planner
    pr = a.join(F.broadcast(b), F.col("_xa") < F.col("_xb")).select(
        F.signum(F.col("_yb") - F.col("_ya")).cast("long").alias("_sgn")
    )
    sagg = pr.agg(
        F.coalesce(F.sum("_sgn"), F.lit(0)).cast("long").alias(
            "s_statistic"
        ),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    npts = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.countDistinct(x_col).cast("long").alias("_nx"),
    )
    t = F.col("_t").cast("double")
    ties = (
        d.groupBy(F.col(y_col).alias("_yv"))
        .agg(F.count(F.lit(1)).alias("_t"))
        .filter(F.col("_t") > 1)
        .agg(
            F.coalesce(
                F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0.0)
            ).alias("_tie_term")
        )
    )
    n = F.col("n_points").cast("double")
    var_s = (n * (n - 1) * (2 * n + 5) - F.col("_tie_term")) / F.lit(18.0)
    s = F.col("s_statistic").cast("double")
    # classical MK requires DISTINCT x (tied times drop pairs from S
    # while Var(S) assumes the full pair set -> silently deflated z);
    # emit NULL rather than a biased statistic
    z = F.when(
        (var_s <= 0.0) | (F.col("_nx") != F.col("n_points")), None
    ).otherwise(
        F.when(s > 0, (s - 1) / F.sqrt(var_s))
        .when(s < 0, (s + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return (
        sagg.crossJoin(F.broadcast(npts))
        .crossJoin(F.broadcast(ties))
        .select(
            "n_points",
            "n_pairs",
            "s_statistic",
            F.round(var_s, 4).alias("var_s"),
            F.round(z, 4).alias("z"),
        )
    )


def ratio_metric_delta_ci(
    df: DataFrame,
    user_col: str,
    num_expr,
    den_expr,
    seed: int = 42,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric under
    user-level randomization — the experimentation estimator for
    rates like purchases-per-event or revenue-per-session, where the
    unit of analysis (event) differs from the unit of randomization
    (user) and a naive binomial CI is wrong (Deng et al. 2017,
    "ratio metrics"). Per md5-split arm: R = ΣY/ΣX over per-user
    aggregates (y_u, x_u), with Var(R) ≈ (Var y + R²·Var x −
    2R·Cov(x,y)) / (n·x̄²) from the user-level moment frame.

    Arms come from the seeded md5 parity of the user id (the
    ``shard_assignment`` discipline) so the assignment — and the
    oracle — is deterministic. Per-user sums are exact integers /
    decimal-quantized values; the moments are fixed expressions over
    them (round 6).

    Scale shape: one user-keyed aggregate (map-side partials), one
    |arms|-row moment aggregate — the fact table is touched once, no
    window, no join.

    Output: one row per arm — (arm, n_users, sum_num, sum_den, ratio,
    se, ci_lo, ci_hi).
    """
    from .shard import _shard_of, _shuffle_key

    per_user = df.groupBy(F.col(user_col).alias("_u")).agg(
        F.sum(num_expr).cast("double").alias("_y"),
        F.sum(den_expr).cast("double").alias("_x"),
    )
    # arm assignment AFTER the per-user reduction: one hash per USER,
    # not per fact row (and the one shared seeded-md5 definition)
    per_user = per_user.withColumn(
        "_arm", _shard_of(_shuffle_key("_u", seed), 2)
    )
    m = per_user.groupBy("_arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("_y").alias("_sy"),
        F.sum("_x").alias("_sx"),
        F.avg("_y").alias("_my"),
        F.avg("_x").alias("_mx"),
        # SAMPLE moments (Deng 2017): var_pop would undercover small
        # arms by (n-1)/n
        F.var_samp("_y").alias("_vy"),
        F.var_samp("_x").alias("_vx"),
        F.covar_samp("_x", "_y").alias("_cxy"),
    )
    r = F.col("_sy") / F.col("_sx")
    n = F.col("n_users").cast("double")
    var_r = (
        F.col("_vy")
        + r * r * F.col("_vx")
        - F.lit(2.0) * r * F.col("_cxy")
    ) / (n * F.col("_mx") * F.col("_mx"))
    se = F.sqrt(F.greatest(var_r, F.lit(0.0)))
    return m.select(
        F.col("_arm").alias("arm"),
        "n_users",
        F.round("_sy", 4).alias("sum_num"),
        F.round("_sx", 4).alias("sum_den"),
        F.round(r, 6).alias("ratio"),
        F.round(se, 6).alias("se"),
        F.round(r - F.lit(float(z)) * se, 6).alias("ci_lo"),
        F.round(r + F.lit(float(z)) * se, 6).alias("ci_hi"),
    )

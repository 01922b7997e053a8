"""Data-quality constraint suite (Deequ-style declarative checks).

The reference validates data by ad-hoc filters sprinkled through its
cleaning script (``BigDataPipeline/spark/data_cleaning.py`` null drops
and value fixes); production pipelines instead declare the contract
once and audit every load against it. ``constraint_report`` is that
audit as a single operator: a set of named constraints in, one small
(constraint_name, violations, status) report out.

Scale shape — the whole point of the design:

- Every ROW-LOCAL constraint (not-null, set membership, ranges,
  arbitrary boolean predicates) and every UNIQUENESS constraint over
  the same table is fused into ONE aggregate pass: conditional sums +
  count-distincts in a single ``agg``, map-side partials, no shuffle
  of data rows, O(#constraints) numbers out. Adding a constraint adds
  an expression, not a job.
- REFERENTIAL constraints are one broadcast anti-join each against
  the (small, deduplicated) dimension key set — the fact table
  streams, never shuffles.

The report frame is a few rows; downstream it gates writes
(`status = 'fail'` → abort) or lands in an audit table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def violated_if(expr: Column) -> Column:
    """Adapter: a boolean 'this row violates the constraint' predicate
    as a summable 0/1 — NULL-safe (NULL predicate counts as a
    violation only if the caller says so via coalesce)."""
    return F.when(expr, F.lit(1)).otherwise(F.lit(0))


def not_null(col: str) -> Column:
    return violated_if(F.col(col).isNull())


def in_set(col: str, values: list) -> Column:
    """Violated when non-null and outside the allowed set (NULLs are
    the not_null constraint's business, not this one's)."""
    return violated_if(
        F.col(col).isNotNull() & ~F.col(col).isin(values)
    )


def in_range(col: str, lo, hi) -> Column:
    """Violated when non-null and outside [lo, hi]."""
    return violated_if(
        F.col(col).isNotNull()
        & ((F.col(col) < F.lit(lo)) | (F.col(col) > F.lit(hi)))
    )


def constraint_report(
    df: DataFrame,
    row_checks: dict[str, Column] | None = None,
    unique_keys: dict[str, list[str]] | None = None,
    foreign_keys: dict[str, tuple[DataFrame, list[str], list[str]]] | None = None,
) -> DataFrame:
    """(constraint_name, violations, status) — one row per declared
    constraint.

    - ``row_checks``: name → 0/1 violation Column (see helpers above).
    - ``unique_keys``: name → key column list; violations = rows minus
      distinct keys (excess duplicates). Rows with a NULL key column
      are excluded from both counts (count/countDistinct semantics) —
      declare a not_null check alongside if NULL keys matter.
    - ``foreign_keys``: name → (dim_df, fact_cols, dim_cols);
      violations = fact rows with a non-null key absent from the
      dimension (broadcast anti-join on the deduplicated dim keys).
    """
    row_checks = row_checks or {}
    unique_keys = unique_keys or {}
    foreign_keys = foreign_keys or {}
    spark = df.sparkSession

    frames: list[DataFrame] = []
    aggs: list[Column] = []
    names: list[str] = []
    for name, pred in row_checks.items():
        aggs.append(F.sum(pred).cast("bigint").alias(name))
        names.append(name)
    for name, cols in unique_keys.items():
        all_nn = F.lit(True)
        for c in cols:
            all_nn = all_nn & F.col(c).isNotNull()
        aggs.append(
            (
                F.count(F.when(all_nn, F.lit(1)))
                - F.count_distinct(*[F.col(c) for c in cols])
            ).cast("bigint").alias(name)
        )
        names.append(name)
    if aggs:
        one = df.agg(*aggs)
        # unpivot the single row to long form — still one job, one pass
        pairs = F.array(
            *[
                F.struct(
                    F.lit(n).alias("constraint_name"),
                    F.col(n).alias("violations"),
                )
                for n in names
            ]
        )
        frames.append(
            one.select(F.explode(pairs).alias("kv")).select(
                "kv.constraint_name", "kv.violations"
            )
        )

    for name, (dim, fact_cols, dim_cols) in foreign_keys.items():
        keys = dim.select(
            *[F.col(d).alias(f) for f, d in zip(fact_cols, dim_cols)]
        ).dropDuplicates()
        orphans = (
            df.na.drop(subset=fact_cols)
            .join(F.broadcast(keys), on=fact_cols, how="left_anti")
            .agg(F.count(F.lit(1)).cast("bigint").alias("violations"))
            .select(
                F.lit(name).alias("constraint_name"), F.col("violations")
            )
        )
        frames.append(orphans)

    if not frames:
        return spark.createDataFrame(
            [], "constraint_name string, violations bigint, status string"
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.select(
        "constraint_name",
        "violations",
        F.when(F.col("violations") == 0, F.lit("pass"))
        .otherwise(F.lit("fail"))
        .alias("status"),
    )


def fk_containment_profile(
    pairs: dict[str, tuple[DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Join-key discovery: for each candidate (fact_col ⊆ dim_col)
    relationship, the CONTAINMENT coefficient — the fraction of the
    fact side's distinct non-null keys that exist in the dimension.
    1.0 means a clean foreign key; values near 0 rule the pair out.
    The profiling pass schema tools (and humans inheriting an
    undocumented lake) run before writing joins.

    ``pairs``: name → (fact_df, fact_col, dim_df, dim_col). Output:
    (relation, n_fact_keys, n_contained, containment).

    Scale: per pair, both sides reduce to DISTINCT key sets before
    anything joins (aggregate-sized, not fact-sized), then one left
    join against the hit-tagged dimension key set; contained and
    total fall out of a single agg over the tagged keys.
    """
    frames = []
    for name, (fact, fcol, dim, dcol) in pairs.items():
        fk = fact.select(F.col(fcol).alias("_k")).na.drop().distinct()
        dk = dim.select(F.col(dcol).alias("_k")).distinct()
        tagged = fk.join(
            dk.withColumn("_hit", F.lit(1)), "_k", "left"
        )
        frames.append(
            tagged.agg(
                F.lit(name).alias("relation"),
                F.count(F.lit(1)).cast("bigint").alias("n_fact_keys"),
                F.coalesce(F.sum("_hit"), F.lit(0))
                .cast("bigint")
                .alias("n_contained"),
            ).select(
                "relation",
                "n_fact_keys",
                "n_contained",
                F.round(
                    F.col("n_contained") / F.col("n_fact_keys"), 4
                ).alias("containment"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def k_anonymity_audit(
    df: DataFrame,
    quasi_identifiers: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit: equivalence classes over the declared
    quasi-identifier columns whose size is below ``k`` — the records a
    release would re-identify (an attacker joining on the QI combo
    narrows them to fewer than k candidates). The pre-release privacy
    check for any dataset carrying demographic-ish columns.

    Returns one row per VIOLATING class: the QI values, its
    ``class_size``, and ``n_below_k`` = class_size (kept explicit so a
    downstream sum gives the total exposed-record count without a
    second pass). Empty result = the release is k-anonymous.

    Scale: one hash aggregation on the QI tuple — violating classes
    are by definition tiny, so the output is small even when the
    input is not. NULL QI values form their own class (groupBy NULL
    semantics), matching the release behavior (NULL is still a
    joinable value to an attacker).
    """
    return (
        df.groupBy(*quasi_identifiers)
        .agg(F.count(F.lit(1)).alias("class_size"))
        .filter(F.col("class_size") < k)
        .select(
            *quasi_identifiers,
            "class_size",
            F.col("class_size").alias("n_below_k"),
        )
    )


def l_diversity_audit(
    df: DataFrame,
    quasi_identifiers: list[str],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """l-diversity audit — the leak ``k_anonymity_audit`` cannot see:
    a class can hold >= k records yet expose the sensitive attribute
    anyway when every member SHARES the value (the homogeneity attack,
    Machanavajjhala et al. 2007). Reports every equivalence class over
    the quasi-identifiers whose number of DISTINCT sensitive values is
    below ``l``, with its size — empty result = the release is
    l-diverse.

    Scale: one exact distinct-count aggregation on the QI tuple (two
    hash aggs under the hood); violating classes are reported whole
    because homogeneous classes are the finding, not a sample.
    """
    return (
        df.groupBy(*quasi_identifiers)
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.count_distinct(F.col(sensitive_col)).alias(
                "n_sensitive_values"
            ),
        )
        .filter(F.col("n_sensitive_values") < l)
        .select(
            *quasi_identifiers,
            F.col("class_size").cast("long").alias("class_size"),
            F.col("n_sensitive_values")
            .cast("long")
            .alias("n_sensitive_values"),
        )
    )


def dp_noisy_group_counts(
    df: DataFrame,
    group_col: str,
    epsilon: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """Laplace-mechanism noisy group counts — the release shape of a
    differentially-private COUNT(*) GROUP BY (sensitivity 1, scale
    b = 1/ε), with the inverse-CDF noise u → −b·sign(u−½)·ln(1−2|u−½|).

    **The noise here is SEEDED (md5 of seed+group), not secure
    randomness — deterministic noise provides NO privacy.** This
    operator exists to verify the MECHANISM (noise shape, scale,
    ε accounting, group-keyed plan) cross-engine and in tests; a
    production release must replace the uniform with a secure RNG
    draw (one line: the ``u`` expression).

    The md5 uniform is (h48 + 0.5)/2^48 ∈ (0,1) — exactly
    representable, never 0 or 1, so ln never sees 0; ln is the only
    libm step and the output rounds to 4.

    Plan shape: one group-keyed count agg, map-only noise expression —
    the DP overhead is a per-GROUP constant, free at any scale.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    h48 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{seed}-"), F.col(group_col).cast("string")
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("double")
    u = (h48 + F.lit(0.5)) / F.lit(float(1 << 48))
    b = 1.0 / epsilon
    dev = u - F.lit(0.5)
    noise = (
        F.lit(-b)
        * F.signum(dev)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(dev))
    )
    return counts.select(
        F.col(group_col),
        F.round(F.col("_n") + noise, 4).alias("noisy_count"),
        F.lit(float(epsilon)).alias("epsilon"),
    )


def fd_profile(
    df: DataFrame,
    candidates: list,
) -> DataFrame:
    """Functional-dependency discovery over candidate (determinant →
    dependent) column pairs — the schema-profiling primitive behind
    normalization checks, join-key inference, and denormalized-table
    validation: an FD holds exactly when every determinant value maps
    to ONE dependent value. Reports, per candidate, the determinant
    cardinality, the violating-determinant count, the worst fan-out,
    and the holds verdict. Exact integers throughout.

    Scale shape: per candidate ONE (det, dep)-keyed aggregate with
    map-side partial, reduced to a per-determinant distinct-dep count
    and a 1-row summary; candidates union their 1-row results
    (|candidates| is a config-sized list). NULL determinant rows
    group as one class (SQL GROUP BY semantics both engines share).
    """
    parts = []
    for det, dep in candidates:
        per_det = (
            df.groupBy(det)
            .agg(F.count_distinct(F.col(dep)).alias("_ndep"))
        )
        parts.append(
            per_det.agg(
                F.lit(str(det)).alias("determinant"),
                F.lit(str(dep)).alias("dependent"),
                F.count(F.lit(1)).cast("long").alias("n_det_values"),
                F.sum(F.when(F.col("_ndep") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_violating"),
                F.max("_ndep").cast("long").alias("max_fanout"),
                (F.max("_ndep") <= 1).alias("fd_holds"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def candidate_key_profile(
    df: DataFrame,
    columns: list,
) -> DataFrame:
    """Candidate-key discovery: per column, the exact distinct count,
    uniqueness ratio, and null count — ``is_key`` iff every row holds
    a distinct non-null value. The other half of schema profiling
    next to ``fd_profile`` (a key is the degenerate FD X → all).

    Scale shape: ONE pass — a single aggregate computing every
    column's count_distinct together (Catalyst plans multi-distinct
    via Expand: |columns|× row fanout of slim columns, still one
    shuffle round with partial aggregation), then a |columns|-row
    unpivot. Exact integers.
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in columns:
        aggs.append(F.count_distinct(F.col(c)).alias(f"_d_{c}"))
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"_null_{c}"
            )
        )
    one = df.agg(*aggs)
    rows = []
    for c in columns:
        rows.append(
            one.select(
                F.lit(str(c)).alias("column"),
                F.col("_n").cast("long").alias("n_rows"),
                F.col(f"_d_{c}").cast("long").alias("n_distinct"),
                F.col(f"_null_{c}").cast("long").alias("n_nulls"),
                F.round(
                    F.col(f"_d_{c}") / F.col("_n").cast("double"), 6
                ).alias("uniqueness"),
                (
                    (F.col(f"_d_{c}") == F.col("_n"))
                    & (F.col(f"_null_{c}") == 0)
                ).alias("is_key"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def dp_contribution_bounded_counts(
    df: DataFrame,
    group_col: str,
    user_col: str,
    id_col: str,
    cap: int = 2,
    epsilon: float = 1.0,
    seed: int = 43,
) -> DataFrame:
    """USER-level differentially-private group counts with contribution
    bounding (the Wilson et al. 2020 / "DP SQL" recipe): a user who
    contributes thousands of rows would make a row-level-DP count
    meaningless at user granularity, so each user's contribution is
    first BOUNDED to ``cap`` rows — selected by a deterministic
    seeded-md5 pseudo-random order, the engine-portable stand-in for
    the uniform subsample — and the Laplace scale is then cap/ε
    (each user moves any single count by at most cap).

    **Like ``dp_noisy_group_counts``, the noise (and the subsample
    order) is SEEDED — deterministic noise provides NO privacy.** The
    operator verifies the mechanism — bounding plan, sensitivity
    accounting, noise shape — cross-engine; production swaps both md5
    draws for secure randomness.

    Plan shape: the bounding pass is one row_number window KEYED on
    the user column (per-user frames, hash-partitioned — never a
    global sort), then a group-keyed count aggregate and a map-only
    per-group noise expression. At 100 TB the window input is the slim
    (user, group, id) projection; everything downstream is
    group-cardinality-sized. Cost is LINEAR in input rows (the keyed
    window dominates); on 10x row-replicated sf0.1 tables it took
    2.6-3.3x the base time (a single 5.1x reading came from a 0.4 s
    base that was mostly fixed job overhead).

    Output: (group, bounded_count, noisy_count, epsilon,
    contribution_cap).
    """
    from pyspark.sql import Window as W

    okey = F.md5(
        F.concat(
            F.lit(f"{seed}-"),
            F.col(user_col).cast("string"),
            F.lit("-"),
            F.col(id_col).cast("string"),
        )
    )
    w = W.partitionBy(user_col).orderBy(okey, F.col(id_col))
    bounded = (
        df.select(group_col, user_col, id_col)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(cap))
    )
    counts = bounded.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_n")
    )
    h48 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{seed}-"), F.col(group_col).cast("string")
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("double")
    u = (h48 + F.lit(0.5)) / F.lit(float(1 << 48))
    b = float(cap) / float(epsilon)
    dev = u - F.lit(0.5)
    noise = (
        F.lit(-b)
        * F.signum(dev)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(dev))
    )
    return counts.select(
        F.col(group_col),
        F.col("_n").cast("long").alias("bounded_count"),
        F.round(F.col("_n") + noise, 4).alias("noisy_count"),
        F.lit(float(epsilon)).alias("epsilon"),
        F.lit(int(cap)).alias("contribution_cap"),
    )

"""Random Forest severity classification (SURVEY §2.8 M5/M6/M9).

Reference parity: RandomForestClassifier with the notebook's
memory-tuned parameters (v2:cell27); the graceful-degradation retry
loop (M6, v2:cell27) is a reusable wrapper; feature importance (M9,
random_forest.py:118-119).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml.classification import RandomForestClassificationModel, RandomForestClassifier
from pyspark.sql import DataFrame


@dataclass
class RFParams:
    """RandomForestClassifier parameters; ``notebook_tuned`` is the
    pipeline's preset."""

    num_trees: int = 50
    max_depth: int = 8
    min_instances_per_node: int = 10
    max_bins: int = 64
    subsampling_rate: float = 1.0
    feature_subset_strategy: str = "auto"
    seed: int = 42
    # maxMemoryInMB bounds the per-pass node-group size: tree training
    # runs one aggregate job per node group, so the 256 MB default
    # forces more passes over the (cached) data than needed. Profiled at
    # the 2M-row tier (1.57M train rows, local[32]): 256 MB ≈ 25K
    # rows/s, 1024 MB ≈ 32K, 4096 MB ≈ 43K — each pass is a full scan,
    # so halving the pass count nearly halves the fit. Stats arrays are
    # per-task transient; 4 GB here is per NODE-GROUP, not per row.
    max_memory_mb: int = 4096
    # cacheNodeIds keeps per-row node assignments in an RDD instead of
    # re-walking every tree's upper levels each pass (v2:cell27 sets it
    # with checkpointInterval=10). WITHOUT a configured checkpoint dir
    # the node-id RDD lineage grows every pass and the fit collapses —
    # profiled 10-25K rows/s WITH vs 32-43K WITHOUT at the 2M tier — so
    # it stays off unless the caller has set sc.setCheckpointDir.
    cache_node_ids: bool = False

    @classmethod
    def notebook_tuned(cls) -> "RFParams":
        # v2:cell27 — memory-tuned for local[*]; the reference also sets
        # cacheNodeIds=True there, which this preset deliberately does
        # NOT copy (see cache_node_ids above: without checkpointing it
        # is a 3-25x slowdown at the 2M tier)
        return cls(
            num_trees=50,
            max_depth=8,
            min_instances_per_node=20,
            max_bins=64,
            subsampling_rate=0.7,
            feature_subset_strategy="sqrt",
        )


def train_rf(
    train: DataFrame, params: RFParams | None = None
) -> RandomForestClassificationModel:
    params = params or RFParams()
    rf = RandomForestClassifier(
        featuresCol="features",
        labelCol="label",
        numTrees=params.num_trees,
        maxDepth=params.max_depth,
        minInstancesPerNode=params.min_instances_per_node,
        maxBins=params.max_bins,
        subsamplingRate=params.subsampling_rate,
        featureSubsetStrategy=params.feature_subset_strategy,
        seed=params.seed,
        maxMemoryInMB=params.max_memory_mb,
        cacheNodeIds=params.cache_node_ids,
    )
    return rf.fit(train)


# the notebook's degradation ladder (v2:cell27): full train set, then
# 50 % and 30 % samples
RETRY_FRACTIONS = (1.0, 0.5, 0.3)


def train_with_retry(
    train: DataFrame, params: RFParams | None = None
) -> tuple[RandomForestClassificationModel, float]:
    """Graceful-degradation trainer (M6, v2:cell27): try the full train
    set; when the JVM runs out of memory, retry on progressively
    smaller samples. "OutOfMemoryError" matches both a heap
    ``java.lang.OutOfMemoryError`` and Spark's execution-memory
    ``SparkOutOfMemoryError`` ("Unable to acquire N bytes of memory").
    A ``spark.driver.maxResultSize`` overflow is not retried: tree
    aggregation's result size follows ``maxMemoryInMB`` and the tree
    shape, not the row count, so a smaller sample does not shrink it.
    Any other error propagates at once, so a coding error never turns
    into a quietly smaller model. Returns (model, fraction_used)."""
    last_err: Exception | None = None
    for frac in RETRY_FRACTIONS:
        subset = train if frac >= 1.0 else train.sample(False, frac, 42)
        try:
            return train_rf(subset, params), frac
        except Exception as e:
            if "OutOfMemoryError" not in str(e):
                raise
            last_err = e
    raise RuntimeError(
        f"training ran out of memory at all fractions {RETRY_FRACTIONS}"
    ) from last_err


def feature_importance(
    model: RandomForestClassificationModel, feature_names: list[str]
) -> list[tuple[str, float]]:
    """(name, importance) sorted desc (random_forest.py:118-119,
    complete_pipeline.py:152)."""
    imps = model.featureImportances.toArray().tolist()
    return sorted(zip(feature_names, imps), key=lambda t: -t[1])

#!/usr/bin/env python3
"""End-to-end training-corpus export CLI — the LLM-data counterpart of
``run_pipeline.py`` (which covers the reference's accidents analytics,
``BigDataPipeline/scripts/run_pipeline.sh``): curate → deterministic
shard/shuffle → audited parquet export, runnable under spark-submit or
plain python.

    python scripts/export_corpus.py --sf-dir /root/testdata/sf0.01 \
        --out /tmp/corpus_export --shards 8 --quality-min 0.8

Stages (each an individually-oracled operator in the catalog):
1. ``dq.constraint_report`` — Deequ-style gate on the RAW input
   (text non-null, doc_id unique, n_chars in range); hard failures
   abort the export before any compute is spent.
2. ``curation.curate_corpus`` — quality/repetition filters, exact +
   near-dup dedup, benchmark decontamination; prints the funnel.
3. ``dedup.near_dup_resolve`` + canonical-id-hash split — the
   LEAKAGE-SAFE train/eval split: the split key is the hash of the
   near-dup cluster's canonical id, so residual near-dups can never
   straddle train/eval.
4. ``dq.k_anonymity_audit`` over the released metadata columns
   (lang, source) — violating equivalence classes land in the report
   before anything ships.
5. ``shard.shard_assignment`` + ``write_training_shards`` per split —
   md5-keyed deterministic shuffle into ``split/shard=K/``
   directories (byte-identical on any cluster layout).
6. ``tuning.write_with_metrics`` — the export itself carries its audit
   aggregates (row/token counts) on the SAME job via df.observe; the
   audit JSON lands next to the data.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from us_accidents_bigdata_pipeline_spark.operators.curation import (  # noqa: E402
    curate_corpus,
)
from us_accidents_bigdata_pipeline_spark.operators.dedup import (  # noqa: E402
    near_dup_resolve,
)
from us_accidents_bigdata_pipeline_spark.operators.dq import (  # noqa: E402
    constraint_report,
    in_range,
    k_anonymity_audit,
    not_null,
)
from us_accidents_bigdata_pipeline_spark.operators.shard import (  # noqa: E402
    _shuffle_key,
)
from us_accidents_bigdata_pipeline_spark.operators.shard import (  # noqa: E402
    write_training_shards,
)
from us_accidents_bigdata_pipeline_spark.session import get_spark  # noqa: E402
from us_accidents_bigdata_pipeline_spark.tuning import (  # noqa: E402
    write_with_metrics,
)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True)
    ap.add_argument("--shards", type=int, default=16)
    ap.add_argument("--quality-min", type=float, default=0.8)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--train-frac", type=float, default=0.9)
    ap.add_argument("--k-anon", type=int, default=5)
    ap.add_argument(
        "--token-budget",
        type=int,
        default=0,
        help="when > 0, select the curated corpus down to (or replay "
        "it up to) this whitespace-token budget via epoch-aware "
        "upsampling: every surviving doc carries an n_epochs repeat "
        "count (operators/curation.py::epoch_upsample_assign), docs "
        "outside the budget are dropped before the split",
    )
    ap.add_argument(
        "--max-epochs",
        type=int,
        default=4,
        help="epoch cap for --token-budget (repetition beyond a few "
        "epochs risks memorization)",
    )
    ap.add_argument(
        "--compact-curated-rows",
        type=int,
        default=0,
        help="when > 0, rewrite the curated/ output compacted to at "
        "most this many rows per file (layout.compact_parquet) — the "
        "small-file management pass a many-task export needs; the "
        "small-file report is emitted either way",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    spark = get_spark(app_name="export_corpus", master=args.master)
    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")

    # ---- stage 0: DQ gate on the raw input (one pass, long-form) ----
    dq_rows = constraint_report(
        docs,
        row_checks={
            "text_not_null": not_null("text"),
            "n_chars_in_range": in_range("n_chars", 0, 10**9),
        },
        unique_keys={"doc_id_unique": ["doc_id"]},
    ).collect()
    dq_report = [
        {
            "constraint": r["constraint_name"],
            "violations": int(r["violations"]),
            "status": r["status"],
        }
        for r in dq_rows
    ]
    for c in dq_report:
        print(f"dq {c['constraint']:>18}: {c['status']}"
              f" ({c['violations']} violations)", flush=True)
    # EVERY gate constraint is hard, exactly as the module docstring
    # promises: violating input aborts before any curation compute.
    hard_fail = [c for c in dq_report if c["violations"] > 0]
    if hard_fail:
        names = ", ".join(c["constraint"] for c in hard_fail)
        print(f"export aborted: DQ gate failed ({names})", flush=True)
        return 2
    # benchmark set for decontamination: the synthetic fixture carries
    # no external benchmark, so use a held-out slice (every 97th doc)
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")

    curated, funnel = curate_corpus(
        docs, bench, quality_min=args.quality_min
    )
    funnel_rows = [
        (r["stage_idx"], r["stage"], r["n_docs"]) for r in funnel.collect()
    ]
    for idx, stage, n in funnel_rows:
        print(f"funnel[{idx}] {stage:>15}: {n}", flush=True)

    curated = curated.persist()

    # ---- optional: token-budget selection with epoch-aware replay ----
    budget_report = None
    if args.token_budget > 0:
        from us_accidents_bigdata_pipeline_spark.functions import (
            token_count as _tc,
        )
        from us_accidents_bigdata_pipeline_spark.operators.curation import (
            epoch_upsample_assign,
        )

        epochs = epoch_upsample_assign(
            curated.select(
                "doc_id", "n_chars", _tc("text").cast("long").alias("n_toks")
            ),
            budget=args.token_budget,
            max_epochs=args.max_epochs,
        ).select("doc_id", "n_epochs", "n_toks")
        budgeted = curated.join(epochs, "doc_id").persist()
        stats = budgeted.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_epochs") * F.col("n_toks")).alias("replay"),
        ).first()
        budget_report = {
            "budget": args.token_budget,
            "max_epochs": args.max_epochs,
            "n_docs_selected": int(stats["n"]),
            "replay_tokens": int(stats["replay"] or 0),
        }
        print(
            f"token budget {args.token_budget}: "
            f"{budget_report['n_docs_selected']} docs, "
            f"{budget_report['replay_tokens']} replay tokens "
            f"(cap {args.max_epochs} epochs)",
            flush=True,
        )
        funnel_rows.append(
            (
                funnel_rows[-1][0] + 1,
                "token_budget",
                budget_report["n_docs_selected"],
            )
        )
        curated.unpersist()
        curated = budgeted.drop("n_toks")

    # ---- leakage-safe split: hash of the near-dup canonical id ----
    # (sub-threshold near-dups that survived curation can never
    # straddle train/eval — same construction as the oracled
    # leakage_safe_split_docs catalog entry)
    resolved = near_dup_resolve(
        curated.select("doc_id", "text"), threshold=0.5
    ).select("doc_id", "canonical_id")
    u16 = F.conv(
        F.substring(_shuffle_key("canonical_id", args.seed), 9, 4), 16, 10
    ).cast("long")
    split_docs = curated.join(resolved, "doc_id").withColumn(
        "split",
        F.when(u16 < args.train_frac * 65536, F.lit("train")).otherwise(
            F.lit("eval")
        ),
    ).persist()
    split_counts = {
        r["split"]: r["n"]
        for r in split_docs.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    print(f"split: {split_counts}", flush=True)

    # ---- privacy audit on the released metadata columns ----
    kanon_viol = k_anonymity_audit(
        curated, ["lang", "source"], k=args.k_anon
    ).collect()
    kanon_report = {
        "k": args.k_anon,
        "violating_classes": len(kanon_viol),
        "exposed_records": int(sum(r["n_below_k"] for r in kanon_viol)),
    }
    print(f"k-anonymity(k={args.k_anon}): "
          f"{kanon_report['violating_classes']} violating classes, "
          f"{kanon_report['exposed_records']} exposed records", flush=True)

    for split_name in ("train", "eval"):
        part = split_docs.filter(F.col("split") == split_name).drop(
            "split", "canonical_id"
        )
        write_training_shards(
            part,
            os.path.join(args.out, "shards", split_name),
            n_shards=args.shards,
            seed=args.seed,
        )

    from us_accidents_bigdata_pipeline_spark.functions import token_count

    audit = write_with_metrics(
        curated.withColumn("n_tokens", token_count("text")),
        os.path.join(args.out, "curated"),
        {
            "n_docs": F.count(F.lit(1)),
            "n_tokens": F.sum("n_tokens"),
            "n_null_text": F.sum(
                F.when(F.col("text").isNull(), 1).otherwise(0)
            ),
        },
    )
    curated.unpersist()
    split_docs.unpersist()

    # ---- small-file observability (+ optional compaction) ----
    from us_accidents_bigdata_pipeline_spark.operators.layout import (
        compact_parquet,
        small_file_report,
    )

    curated_dir = os.path.join(args.out, "curated")
    if args.compact_curated_rows > 0:
        import shutil
        import tempfile

        tmp = tempfile.mkdtemp(prefix="compact_", dir=args.out)
        n_files = compact_parquet(
            spark, curated_dir, tmp,
            target_rows_per_file=args.compact_curated_rows,
        )
        # Crash-safe swap: keep the original curated/ until the
        # compacted tree is in place — a crash between the renames
        # leaves either the backup or the new dir, never neither. A
        # leftover backup from a previously crashed run must be
        # cleared first or the rename onto it fails (ENOTEMPTY) and
        # every rerun would be stuck.
        backup = curated_dir + ".pre_compact"
        shutil.rmtree(backup, ignore_errors=True)
        os.rename(curated_dir, backup)
        os.rename(tmp, curated_dir)
        shutil.rmtree(backup)
        print(f"compacted curated/ to {n_files} files "
              f"(<= {args.compact_curated_rows} rows each)", flush=True)
    files_report = {}
    for label, path in (
        ("curated", curated_dir),
        ("shards_train", os.path.join(args.out, "shards", "train")),
        ("shards_eval", os.path.join(args.out, "shards", "eval")),
    ):
        r = small_file_report(spark, path).first()
        files_report[label] = {
            "n_files": int(r["n_files"]),
            "n_rows": int(r["n_rows"]),
            "min_rows_per_file": int(r["min_rows_per_file"]),
            "max_rows_per_file": int(r["max_rows_per_file"]),
        }
    print(f"files: {files_report}", flush=True)

    report = {
        "dq": dq_report,
        "funnel": [
            {"stage_idx": i, "stage": s, "n_docs": n}
            for i, s, n in funnel_rows
        ],
        "split": {k: int(v) for k, v in split_counts.items()},
        "train_frac": args.train_frac,
        "k_anonymity": kanon_report,
        "audit": {k: int(v) for k, v in audit.items()},
        "shards": args.shards,
        "seed": args.seed,
        "files": files_report,
    }
    if budget_report is not None:
        report["token_budget"] = budget_report
    with open(os.path.join(args.out, "export_report.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report["audit"]), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""End-to-end smoke test for the flagship export CLI
(scripts/export_corpus.py) at sf0.001 — pins the audit JSON contract
and the all-constraints-hard DQ gate so the demo can't rot."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from scripts.export_corpus import main as export_main

SF_SMOKE = "/root/testdata/sf0.001"


def test_export_corpus_end_to_end(spark, tmp_path):
    out = str(tmp_path / "corpus_export")
    rc = export_main(
        [
            "--sf-dir", SF_SMOKE,
            "--out", out,
            "--shards", "4",
            "--quality-min", "0.8",
            "--master", "local[4]",
        ]
    )
    assert rc == 0

    with open(os.path.join(out, "export_report.json")) as f:
        report = json.load(f)

    # DQ gate: all three constraints reported, zero violations.
    assert {c["constraint"] for c in report["dq"]} == {
        "text_not_null", "n_chars_in_range", "doc_id_unique",
    }
    assert all(c["violations"] == 0 for c in report["dq"])

    # Funnel monotonically non-increasing, ends at the audited count.
    funnel = sorted(report["funnel"], key=lambda s: s["stage_idx"])
    counts = [s["n_docs"] for s in funnel]
    assert counts == sorted(counts, reverse=True)
    assert report["audit"]["n_docs"] == counts[-1]

    # Split partitions the curated set; leakage-safe split keys mean
    # both sides are non-empty at this corpus size and train_frac.
    assert (
        report["split"].get("train", 0) + report["split"].get("eval", 0)
        == report["audit"]["n_docs"]
    )
    assert report["split"].get("train", 0) > report["split"].get("eval", 0)

    # Audit invariants: no NULL text survived curation; tokens exist.
    assert report["audit"]["n_null_text"] == 0
    assert report["audit"]["n_tokens"] > 0

    # k-anonymity audit present (fixture has tiny lang x source classes)
    assert report["k_anonymity"]["k"] == 5
    assert report["k_anonymity"]["exposed_records"] >= 0

    # small-file report covers all three output trees and adds up
    assert set(report["files"]) == {"curated", "shards_train",
                                    "shards_eval"}
    assert report["files"]["curated"]["n_rows"] == report["audit"]["n_docs"]
    assert (
        report["files"]["shards_train"]["n_rows"]
        == report["split"]["train"]
    )

    # The export itself: curated parquet + both shard trees readable,
    # shard counts add back up to the split counts, and each split tree
    # is laid out as shard=K/ partition directories.
    curated = spark.read.parquet(os.path.join(out, "curated"))
    assert curated.count() == report["audit"]["n_docs"]
    for split_name in ("train", "eval"):
        split_dir = os.path.join(out, "shards", split_name)
        part = spark.read.parquet(split_dir)
        assert part.count() == report["split"][split_name]
        shard_dirs = sorted(
            d for d in os.listdir(split_dir)
            if os.path.isdir(os.path.join(split_dir, d))
        )
        assert len(shard_dirs) == 4 and all(
            d.startswith("shard=") for d in shard_dirs
        )


def test_export_corpus_dq_gate_aborts_on_null_text(spark, tmp_path):
    """The module docstring promises hard failures abort before any
    curation compute — for EVERY gate constraint, not just
    doc_id_unique."""
    bad_dir = str(tmp_path / "bad_sf")
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    docs.withColumn(
        "text",
        F.when(F.col("doc_id") == docs.first()["doc_id"], F.lit(None)).otherwise(
            F.col("text")
        ),
    ).write.parquet(os.path.join(bad_dir, "documents.parquet"))

    out = str(tmp_path / "should_not_exist")
    rc = export_main(
        ["--sf-dir", bad_dir, "--out", out, "--master", "local[4]"]
    )
    assert rc == 2
    assert not os.path.exists(os.path.join(out, "export_report.json"))


def test_export_corpus_token_budget_epochs(spark, tmp_path):
    """--token-budget selects the curated corpus under a replay budget
    and every shard row carries its n_epochs repeat count; the audit
    reflects the post-budget corpus and replay mass respects the cap
    arithmetic."""
    out = str(tmp_path / "budget_export")
    rc = export_main(
        [
            "--sf-dir", SF_SMOKE,
            "--out", out,
            "--shards", "4",
            "--token-budget", "40000",
            "--max-epochs", "3",
            "--master", "local[4]",
        ]
    )
    assert rc == 0
    with open(os.path.join(out, "export_report.json")) as f:
        report = json.load(f)
    tb = report["token_budget"]
    assert tb["budget"] == 40000 and tb["max_epochs"] == 3
    assert 0 < tb["n_docs_selected"] <= report["funnel"][-2]["n_docs"]
    assert tb["replay_tokens"] <= 40000
    funnel = sorted(report["funnel"], key=lambda s: s["stage_idx"])
    assert funnel[-1]["stage"] == "token_budget"
    assert report["audit"]["n_docs"] == tb["n_docs_selected"]
    curated = spark.read.parquet(os.path.join(out, "curated"))
    assert "n_epochs" in curated.columns
    eps = [r["n_epochs"] for r in curated.select("n_epochs").collect()]
    assert eps and all(1 <= e <= 3 for e in eps)


def test_export_corpus_compaction_option(spark, tmp_path):
    """--compact-curated-rows rewrites curated/ under the per-file cap
    and the report reflects the compacted tree."""
    import json
    import os

    out = str(tmp_path / "corpus_export_c")
    rc = export_main(
        [
            "--sf-dir", SF_SMOKE,
            "--out", out,
            "--shards", "2",
            "--compact-curated-rows", "100",
            "--master", "local[4]",
        ]
    )
    assert rc == 0
    with open(os.path.join(out, "export_report.json")) as f:
        report = json.load(f)
    cur = report["files"]["curated"]
    assert cur["max_rows_per_file"] <= 100
    assert (
        spark.read.parquet(os.path.join(out, "curated")).count()
        == cur["n_rows"]
        == report["audit"]["n_docs"]
    )

"""Registry export order, import hygiene and the adaptive input split."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from urllib.parse import unquote, urlparse

import pytest

from us_accidents_bigdata_pipeline_spark.plans.queries import (
    REGISTRY,
    _adaptive_input_split,
    oracle_sql,
    queries,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_queries_follow_registration_order():
    assert list(queries()) == list(REGISTRY)


def test_oracle_sql_holds_oracled_names_in_registration_order():
    oracled = [n for n, s in REGISTRY.items() if s.oracle]
    assert list(oracle_sql()) == oracled
    assert all(oracle_sql()[n] == REGISTRY[n].oracle for n in oracled)


def test_import_opens_no_file_in_repo_root():
    """Importing the package must not read anything next to it (such as
    result artifacts in the checkout root)."""
    probe = textwrap.dedent(
        """
        import os, sys
        opened = []

        def hook(event, args):
            if event == "open" and isinstance(args[0], (str, bytes)):
                opened.append(os.path.abspath(os.fsdecode(args[0])))

        sys.addaudithook(hook)
        import us_accidents_bigdata_pipeline_spark.plans  # noqa: F401
        print("\\n".join(opened))
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    in_root = [p for p in out.splitlines() if os.path.dirname(p) == REPO]
    assert in_root == []


class _FilesRaise:
    def inputFiles(self):
        raise RuntimeError("listing failed")


def test_adaptive_split_propagates_unexpected_errors(spark):
    with pytest.raises(RuntimeError, match="listing failed"):
        _adaptive_input_split(spark, _FilesRaise())


def test_adaptive_split_keeps_frame_when_local_file_vanished(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(10).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert 0 < len(df.inputFiles()) < spark.sparkContext.defaultParallelism
    for f in df.inputFiles():
        os.remove(unquote(urlparse(f).path))
    assert _adaptive_input_split(spark, df) is df

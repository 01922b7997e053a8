"""Registry export order, import and environment hygiene, and the
adaptive input split."""

from __future__ import annotations

import ast
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

from .test_dead_code import PACKAGE, REPO, _py_files


def test_queries_follow_registration_order():
    assert list(queries()) == list(REGISTRY)


def test_oracle_sql_holds_oracled_names_in_registration_order():
    oracled = [n for n, s in REGISTRY.items() if s.oracle]
    assert list(oracle_sql()) == oracled
    assert all(oracle_sql()[n] == REGISTRY[n].oracle for n in oracled)


# Pairs that share one oracle on purpose: both benchmark-mix queries
# (exact and LSH batch top-k), and a batch operator next to the only
# query that covers its streaming path.
SHARED_ORACLE = {
    frozenset({"knn_cosine_batch", "lsh_ann_batch"}),
    frozenset({"incremental_dedup_new_batch", "streaming_incremental_dedup"}),
    frozenset({"cdc_apply_orders", "streaming_cdc_orders"}),
}


def test_one_registry_entry_per_oracle():
    """Two entries with the same oracle compute the same result; the
    registry keeps one implementation per result."""
    by_oracle: dict[str, set[str]] = {}
    for name, spec in REGISTRY.items():
        if spec.oracle:
            by_oracle.setdefault(" ".join(spec.oracle.split()), set()).add(name)
    shared = {frozenset(g) for g in by_oracle.values() if len(g) > 1}
    assert shared - SHARED_ORACLE == set()


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


_ENV_MUTATORS = {"setdefault", "update", "pop", "popitem", "clear"}


def _is_environ(node: ast.AST) -> bool:
    if isinstance(node, ast.Attribute):
        return (
            node.attr == "environ"
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        )
    return isinstance(node, ast.Name) and node.id == "environ"


def _env_writes(tree: ast.AST) -> list[int]:
    """Line numbers that write the process environment: assigning or
    deleting ``os.environ`` or one of its keys, calling a mutating
    ``os.environ`` method, or calling ``os.putenv``/``os.unsetenv``."""
    lines = []
    for node in ast.walk(tree):
        targets = []
        if isinstance(node, (ast.Assign, ast.Delete)):
            targets = node.targets
        elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
            targets = [node.target]
        for t in targets:
            if _is_environ(t) or (isinstance(t, ast.Subscript) and _is_environ(t.value)):
                lines.append(node.lineno)
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Attribute):
                if (_is_environ(f.value) and f.attr in _ENV_MUTATORS) or f.attr in (
                    "putenv",
                    "unsetenv",
                ):
                    lines.append(node.lineno)
            elif isinstance(f, ast.Name) and f.id in ("putenv", "unsetenv"):
                lines.append(node.lineno)
    return lines


def test_package_never_writes_the_process_environment():
    """Package code configures Spark through its session, never by
    editing environment variables: an environment write leaks into every
    later import and subprocess of the caller's process."""
    found = []
    for path in _py_files(os.path.join(REPO, PACKAGE)):
        with open(path) as f:
            lines = _env_writes(ast.parse(f.read()))
        found += [f"{os.path.relpath(path, REPO)}:{n}" for n in lines]
    assert found == []


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

"""Knob guard: on the accidents pipeline path, every defaulted
parameter, ``**kwargs`` and dataclass field must be passed explicitly by
some call in the repo's Python (package, tests, scripts, perfbench and
the entry points). A knob that no caller sets is a constant in
disguise: inline it or make it a module constant. A ``**mapping``
splat counts as passing nothing, since it only forwards what its own
caller passed. ``RFParams`` is exempt because its repr is written to
the ``model_results`` sink."""

from __future__ import annotations

import ast
import os

from .test_dead_code import PACKAGE, REPO, SOURCES, _py_files

# pipeline-path module -> the functions checked in it; every dataclass
# these modules define is checked too
SCOPE = {
    "pipeline.py": ["run_complete_pipeline"],
    "operators/clean.py": ["clean", "compute_medians"],
    "ml/rf.py": ["train_rf", "train_with_retry"],
    "ml/kmeans.py": ["fit_kmeans", "silhouette", "k_sweep", "cluster_stats"],
    "ml/features.py": ["assemble_and_scale"],
    "ml/knn.py": ["broadcast_train", "knn_predict"],
    "ml/metrics.py": ["evaluate_classifier", "confusion_matrix", "per_class_report"],
    "tuning.py": ["right_size_partitions"],
    "sources/io.py": ["write_parquet"],
    "operators/sample.py": ["deterministic_split"],
    "operators/viz.py": [
        "value_counts", "geo_scatter_sample", "confusion_heatmap_svg",
        "export_chart_suite", "cluster_scatter_input",
    ],
    "operators/render_svg.py": [
        "render_bar_svg", "render_line_svg", "render_scatter_svg",
        "render_heatmap_svg",
    ],
}
EXEMPT = {"RFParams"}


def _is_dataclass(node: ast.ClassDef) -> bool:
    return any("dataclass" in ast.unparse(d) for d in node.decorator_list)


def _knobs(tree: ast.Module, functions: list[str]):
    """(name, positional names, {knob: positional index or None}, has
    **kwargs) per checked function and dataclass. A knob's index is
    None when it can only be passed by keyword."""
    out = []
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name in functions:
            a = node.args
            positional = [x.arg for x in a.posonlyargs + a.args]
            defaulted = positional[len(positional) - len(a.defaults):] if a.defaults else []
            knobs = {p: positional.index(p) for p in defaulted}
            knobs.update(
                {k.arg: None for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}
            )
            names = positional + [k.arg for k in a.kwonlyargs]
            if a.kwarg:
                knobs["**" + a.kwarg.arg] = None
            out.append((node.name, names, knobs, a.kwarg is not None))
        elif (
            isinstance(node, ast.ClassDef)
            and node.name not in EXEMPT
            and _is_dataclass(node)
        ):
            fields = [
                s.target.id
                for s in node.body
                if isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)
            ]
            out.append((node.name, fields, {f: i for i, f in enumerate(fields)}, False))
    return out


def _calls(trees: list[ast.Module]) -> dict[str, list[ast.Call]]:
    out: dict[str, list[ast.Call]] = {}
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name:
                    out.setdefault(name, []).append(node)
    return out


def unset_knobs() -> list[str]:
    trees = []
    for root in SOURCES:
        for path in _py_files(os.path.join(REPO, root)):
            with open(path) as f:
                trees.append(ast.parse(f.read()))
    calls = _calls(trees)
    unset = []
    for rel, functions in SCOPE.items():
        with open(os.path.join(REPO, PACKAGE, rel)) as f:
            module = ast.parse(f.read())
        for name, names, knobs, has_kwargs in _knobs(module, functions):
            passed = set()
            for call in calls.get(name, []):
                n_pos = len(call.args)
                passed |= {k for k, i in knobs.items() if i is not None and i < n_pos}
                for kw in call.keywords:
                    if kw.arg in knobs:
                        passed.add(kw.arg)
                    elif has_kwargs and kw.arg is not None and kw.arg not in names:
                        passed |= {k for k in knobs if k.startswith("**")}
            unset += [f"{rel}::{name}.{k}" for k in knobs if k not in passed]
    return unset


def test_every_pipeline_knob_is_set_by_some_caller():
    assert unset_knobs() == []


# A parameter with one of these names chooses between alternative
# implementations of one result; the package keeps one implementation.
SELECTORS = {"method", "hash_fn", "fit_mode"}
# a ``mode`` parameter is fine when it forwards a DataFrameWriter mode
SAVE_MODES = {"overwrite", "append", "ignore", "error", "errorifexists"}


def selector_options() -> list[str]:
    """``module::function.param`` for every parameter in the package
    named like an implementation selector, and every ``mode`` parameter
    whose string default is not a Spark save mode."""
    found = []
    for path in _py_files(os.path.join(REPO, PACKAGE)):
        with open(path) as f:
            tree = ast.parse(f.read())
        rel = os.path.relpath(path, os.path.join(REPO, PACKAGE))
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            positional = a.posonlyargs + a.args
            defaults = [None] * (len(positional) - len(a.defaults)) + a.defaults
            for arg, default in zip(
                positional + a.kwonlyargs, defaults + a.kw_defaults
            ):
                non_save_mode = (
                    arg.arg == "mode"
                    and isinstance(default, ast.Constant)
                    and isinstance(default.value, str)
                    and default.value not in SAVE_MODES
                )
                if arg.arg in SELECTORS or non_save_mode:
                    found.append(f"{rel}::{node.name}.{arg.arg}")
    return found


def test_no_implementation_selector_options():
    assert selector_options() == []

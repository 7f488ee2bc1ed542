"""The library surface the benchmark harnesses use, checked without Spark.

``perfbench/*.py`` and ``bench.py`` run against the library of their own
checkout; a renamed function or a dropped keyword there fails the benchmark
run instead of a test. This parses the harness sources and checks that every
``from solana_etl_spark… import name`` resolves, that every attribute read
off an imported module exists, and that every call of an imported function
binds to its current signature."""

from __future__ import annotations

import ast
import importlib
import inspect
import os
import types

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESS = sorted(
    os.path.join("perfbench", f)
    for f in os.listdir(os.path.join(REPO, "perfbench"))
    if f.endswith(".py")
) + ["bench.py"]


def _library_names(tree: ast.AST) -> dict[str, object]:
    """Local name -> imported library object, for every library import."""
    names = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            "solana_etl_spark"
        ):
            module = importlib.import_module(node.module)
            for alias in node.names:
                if not hasattr(module, alias.name):
                    # a submodule imported by name
                    importlib.import_module(f"{node.module}.{alias.name}")
                assert hasattr(module, alias.name), f"{node.module}.{alias.name}"
                names[alias.asname or alias.name] = getattr(module, alias.name)
    return names


@pytest.mark.parametrize("rel", HARNESS)
def test_harness_imports_resolve_and_calls_bind(rel):
    with open(os.path.join(REPO, rel)) as f:
        tree = ast.parse(f.read(), rel)
    names = _library_names(tree)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and isinstance(names.get(node.value.id), types.ModuleType)
        ):
            assert hasattr(names[node.value.id], node.attr), (
                f"{rel}:{node.lineno} {node.value.id}.{node.attr}"
            )
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name):
            target = names.get(f.id)
        elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
            target = getattr(names.get(f.value.id), f.attr, None)
        else:
            target = None
        starred = any(isinstance(a, ast.Starred) for a in node.args) or any(
            k.arg is None for k in node.keywords
        )
        if not inspect.isfunction(target) or starred:
            continue
        try:
            inspect.signature(target).bind(
                *node.args, **{k.arg: k.value for k in node.keywords}
            )
        except TypeError as e:
            pytest.fail(f"{rel}:{node.lineno} {target.__name__}: {e}")


def test_stream_trace_patch_targets_exist():
    """perfbench's stream trace swaps these two module attributes of
    streaming.pipeline; start_streaming_load must look them up there."""
    from solana_etl_spark.streaming import pipeline

    src = inspect.getsource(pipeline.start_streaming_load)
    for attr in ("run_all_tasks_with_handle", "append_csv_exactly_once"):
        assert callable(getattr(pipeline, attr)), attr
        assert f"{attr}(" in src, attr

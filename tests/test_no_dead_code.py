"""Every top-level function and class of ``pq_engine/`` is referenced
somewhere in the repository's Python files, tests included: a name that
only its own definition mentions is dead code."""

import ast
import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SKIP_DIRS = {"dist", "spark-warehouse", "__pycache__"}


def _python_files():
    for path in ROOT.rglob("*.py"):
        parts = path.relative_to(ROOT).parts[:-1]
        if not any(p in SKIP_DIRS or p.startswith(".") for p in parts):
            yield path


def test_every_top_level_definition_is_referenced():
    defined, referenced = [], set()
    for path in _python_files():
        with warnings.catch_warnings():  # invalid escapes in SQL strings
            warnings.simplefilter("ignore")
            tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
        rel = path.relative_to(ROOT)
        if rel.parts[0] == "pq_engine":
            defined += [(str(rel), node.name) for node in tree.body
                        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                             ast.ClassDef))]
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                referenced.add(node.id)
            elif isinstance(node, ast.Attribute):
                referenced.add(node.attr)
            elif isinstance(node, ast.alias):
                referenced.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                referenced.add(node.value)  # getattr / __all__ / dispatch by name
    assert len(defined) > 100
    dead = [f"{rel}:{name}" for rel, name in defined if name not in referenced]
    assert not dead, f"defined but never referenced: {dead}"

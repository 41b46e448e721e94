"""Every in-repo import of the package resolves, statically (no Spark
session, nothing imported): a deleted module or function fails here even
when the only import of it sits inside a function no other test runs."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ocr_platform_spark"


def _source_files() -> list[str]:
    paths = []
    for sub in (PKG, "tools", "tests", "perfbench"):
        paths += glob.glob(os.path.join(REPO, sub, "**", "*.py"), recursive=True)
    return sorted(paths) + [os.path.join(REPO, "__spark_entry__.py")]


def _module_file(module: str) -> str | None:
    base = os.path.join(REPO, *module.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _top_level_names(path: str) -> set[str]:
    """Names a module binds at its top level."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    names: set[str] = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
    return names


def test_every_package_import_resolves():
    files = _source_files()
    checked = 0
    unresolved = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        where = os.path.relpath(path, REPO)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.split(".")[0] == PKG:
                        checked += 1
                        if _module_file(alias.name) is None:
                            unresolved.append(f"{where}:{node.lineno} {alias.name}")
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                if (node.module or "").split(".")[0] != PKG:
                    continue
                target = _module_file(node.module)
                if target is None:
                    unresolved.append(f"{where}:{node.lineno} {node.module}")
                    continue
                top = _top_level_names(target)
                for alias in node.names:
                    checked += 1
                    name = alias.name
                    if name == "*" or name in top:
                        continue
                    if _module_file(f"{node.module}.{name}") is None:
                        unresolved.append(f"{where}:{node.lineno} {node.module}.{name}")
    assert len(files) > 50 and checked > 200, (len(files), checked)
    assert not unresolved, unresolved

"""Every in-repo use of the package resolves, statically (no Spark session,
nothing imported): a deleted module, function or argument fails here even
when its only use sits inside a function no other test runs. The same scan
flags top-level imports nothing uses, package-level private helpers
nothing reads, and prose that names a module path (``operators/<name>``)
which no longer exists."""

from __future__ import annotations

import ast
import collections
import glob
import os
import re

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


def _local_bindings(body: list[ast.stmt]) -> dict[str, str | None]:
    """What one scope binds: imported package names map to their dotted
    path, every other assigned name to None (it shadows an outer import).
    Nested function and class bodies are separate scopes."""
    out: dict[str, str | None] = {}
    stack = list(body)
    while stack:
        node = stack.pop()
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = a.name if a.name.split(".")[0] == PKG else None
                else:
                    head = a.name.split(".")[0]
                    out[head] = head if head == PKG else None
        elif isinstance(node, ast.ImportFrom):
            pkg = node.level == 0 and (node.module or "").split(".")[0] == PKG
            for a in node.names:
                out[a.asname or a.name] = f"{node.module}.{a.name}" if pkg else None
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out[node.name] = None
            continue
        elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            out[node.id] = None
        stack.extend(ast.iter_child_nodes(node))
    return out


def _params(dotted: str, seen: frozenset = frozenset()) -> set[str] | None:
    """Keyword-passable parameter names of the package function (or class
    constructor) at ``dotted``; None when it takes ``**kwargs`` or cannot
    be resolved statically."""
    parts = dotted.split(".")
    for cut in range(len(parts) - 1, 0, -1):
        path = _module_file(".".join(parts[:cut]))
        if path is not None:
            break
    else:
        return None
    if len(parts) - cut != 1 or dotted in seen:
        return None
    name = parts[cut]
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == name:
            fn, skip = node, 0
        elif isinstance(node, ast.ClassDef) and node.name == name:
            inits = [
                n for n in node.body
                if isinstance(n, ast.FunctionDef) and n.name == "__init__"
            ]
            if not inits:
                return None
            fn, skip = inits[0], 1
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and any(
            (a.asname or a.name) == name for a in node.names
        ):
            src = next(a.name for a in node.names if (a.asname or a.name) == name)
            if (node.module or "").split(".")[0] != PKG:
                return None
            return _params(f"{node.module}.{src}", seen | {dotted})
        else:
            continue
        if fn.args.kwarg is not None:
            return None
        return {a.arg for a in fn.args.args[skip:] + fn.args.kwonlyargs}
    return None


def _dotted(func: ast.expr) -> list[str] | None:
    names = []
    while isinstance(func, ast.Attribute):
        names.append(func.attr)
        func = func.value
    if not isinstance(func, ast.Name):
        return None
    return [func.id] + names[::-1]


def test_package_call_keywords_resolve():
    """Every keyword passed to a package function — imported by name or
    reached through a module alias — is a parameter of that function, so a
    removed argument fails here even at a call site no test runs."""
    params_cache: dict[str, set[str] | None] = {}
    checked = 0
    bad = []

    def visit(node: ast.AST, scopes: list[dict], where: str) -> None:
        nonlocal checked
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = _local_bindings(child.body)
                for a in ast.walk(child.args):
                    if isinstance(a, ast.arg):
                        inner[a.arg] = None
                visit(child, scopes + [inner], where)
                continue
            if isinstance(child, ast.Call):
                chain = _dotted(child.func)
                target = None
                if chain:
                    for scope in reversed(scopes):
                        if chain[0] in scope:
                            target = scope[chain[0]]
                            break
                if target is not None:
                    dotted = ".".join([target] + chain[1:])
                    if dotted not in params_cache:
                        params_cache[dotted] = _params(dotted)
                    params = params_cache[dotted]
                    if params is not None:
                        checked += 1
                        for kw in child.keywords:
                            if kw.arg is not None and kw.arg not in params:
                                bad.append(f"{where}:{child.lineno} {dotted}({kw.arg}=)")
            visit(child, scopes, where)

    for path in _source_files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        visit(tree, [_local_bindings(tree.body)], os.path.relpath(path, REPO))
    assert checked > 500, checked
    assert not bad, bad


def test_no_unused_top_level_imports():
    """Every name a module-level import binds is used in that module or
    listed in its ``__all__``; ``from __future__`` imports are exempt."""
    checked = 0
    unused = []
    for path in _source_files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        bound: dict[str, int] = {}
        for node in tree.body:
            if isinstance(node, ast.Import):
                for a in node.names:
                    bound[a.asname or a.name.split(".")[0]] = node.lineno
            elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
                for a in node.names:
                    bound[a.asname or a.name] = node.lineno
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
            ):
                used |= set(ast.literal_eval(node.value))
        checked += len(bound)
        where = os.path.relpath(path, REPO)
        unused += [
            f"{where}:{line} {name}" for name, line in bound.items() if name not in used
        ]
    assert checked > 300, checked
    assert not unused, unused


_MODULE_PATH = re.compile(
    r"\b(operators|kernels|plans|functions|sources)/(\{[\w, ]+\}|\w+)"
)


def test_named_module_paths_exist():
    """Every ``<subpackage>/<name>`` mention (``{a,b}`` brace lists
    included) in code, comments and docstrings names a module that exists,
    so removing a module also rewords the text that points at it."""
    checked = 0
    stale = []
    for path in _source_files():
        where = os.path.relpath(path, REPO)
        with open(path, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                for m in _MODULE_PATH.finditer(line):
                    for name in m.group(2).strip("{}").split(","):
                        checked += 1
                        module = f"{PKG}.{m.group(1)}.{name.strip()}"
                        if _module_file(module) is None:
                            stale.append(f"{where}:{lineno} {module}")
    assert checked > 50, checked
    assert not stale, stale


def _loaded_names(node: ast.AST) -> collections.Counter:
    """Names a subtree reads; ``ast.walk`` descends into f-string fields."""
    return collections.Counter(
        n.id for n in ast.walk(node)
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)
    )


def _attr_names(node: ast.AST) -> collections.Counter:
    return collections.Counter(
        n.attr for n in ast.walk(node) if isinstance(n, ast.Attribute)
    )


def test_no_unreferenced_private_helpers():
    """Every module-level private name in the package (``_x``, not
    ``__x__``) is used outside its own definition: read in its module,
    imported by name from that module, or reached as an attribute
    (``dedup._bucket_pairs``) anywhere in the repo. A removal therefore
    cannot leave an orphaned helper, constant or fixture behind."""
    trees = {}
    for path in _source_files():
        with open(path, encoding="utf-8") as fh:
            trees[path] = ast.parse(fh.read(), path)
    imported: collections.Counter = collections.Counter()
    attrs: collections.Counter = collections.Counter()
    for tree in trees.values():
        attrs += _attr_names(tree)
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom) and n.level == 0:
                imported.update((n.module, a.name) for a in n.names)
    checked = 0
    orphans = []
    for path, tree in trees.items():
        where = os.path.relpath(path, REPO)
        if not where.startswith(PKG + os.sep):
            continue
        module = where[: -len(".py")].replace(os.sep, ".")
        if module.endswith(".__init__"):
            module = module[: -len(".__init__")]
        loaded = _loaded_names(tree)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
            else:
                continue
            own_loaded, own_attrs = _loaded_names(node), _attr_names(node)
            for name in names:
                if not name.startswith("_") or name.startswith("__"):
                    continue
                checked += 1
                uses = (
                    loaded[name] - own_loaded[name]
                    + attrs[name] - own_attrs[name]
                    + imported[(module, name)]
                )
                if uses <= 0:
                    orphans.append(f"{where}:{node.lineno} {name}")
    assert checked > 150, checked
    assert not orphans, orphans

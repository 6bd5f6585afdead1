"""Every import the package binds is read in the scope that binds it.

AST only, no Spark. A scope is a module, a function or a class; an import
inside a function counts as read when that function's body (nested
functions included) reads the bound name, a module-level import when
anything in the module does (``__all__`` entries included). An import
statement that carries ``# noqa: F401`` on one of its lines is exempt:
the package's re-exports in ``__init__.py`` and ``pydaemon.py``'s preloads,
which are imported for their side effect on forked Python workers.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "simple_osm_queries_spark"
_SCOPES = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)


def _own_nodes(scope: ast.AST):
    """The nodes of ``scope`` outside any nested scope."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, _SCOPES):
            todo.extend(ast.iter_child_nodes(node))


def _annotations(node: ast.AST) -> list[ast.AST]:
    if isinstance(node, ast.arg):
        return [node.annotation] if node.annotation else []
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return [node.returns] if node.returns else []
    if isinstance(node, ast.AnnAssign):
        return [node.annotation]
    return []


def _reads(scope: ast.AST) -> set[str]:
    """Names read anywhere in ``scope``: ``ast.Name`` nodes, names inside
    string annotations (``"pd.DataFrame"``) and ``__all__`` entries."""
    out = set()
    for n in ast.walk(scope):
        if isinstance(n, ast.Name):
            out.add(n.id)
        for a in _annotations(n):
            if isinstance(a, ast.Constant) and isinstance(a.value, str):
                out |= {x.id for x in ast.walk(ast.parse(a.value)) if isinstance(x, ast.Name)}
        if isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
        ):
            out |= {c.value for c in ast.walk(n.value) if isinstance(c, ast.Constant)}
    return out


def unused_imports(source: str) -> list[tuple[int, str]]:
    """(line, bound name) of every import in ``source`` its scope never reads."""
    lines = source.splitlines()
    out = []
    for scope in ast.walk(ast.parse(source)):
        if not isinstance(scope, _SCOPES):
            continue
        reads = None
        for node in _own_nodes(scope):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if any("noqa: F401" in ln for ln in lines[node.lineno - 1 : node.end_lineno]):
                continue
            reads = _reads(scope) if reads is None else reads
            for a in node.names:
                bound = a.asname or a.name.split(".")[0]
                if bound not in reads:
                    out.append((node.lineno, bound))
    return sorted(out)


def test_every_package_import_is_read():
    unused = [
        f"{path.relative_to(REPO)}:{line} {name}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for line, name in unused_imports(path.read_text())
    ]
    assert not unused, "imports bound but never read:\n" + "\n".join(unused)


def test_check_sees_function_scope_imports():
    """An import read only outside the function that binds it is unused;
    one read in a nested function or a string annotation is not."""
    source = (
        "import os\nimport pandas as pd\n\n\n"
        "def f():\n    import json\n    import re\n\n"
        "    def inner(x: 'pd.DataFrame'):\n        return re.sub\n\n    return os.sep\n\n\n"
        "def g():\n    return json\n"
    )
    assert unused_imports(source) == [(6, "json")]

"""The AST view of the package that ``test_reachable`` and ``test_settable``
share: the package's modules, the files outside ``tests/`` that count as
callers, and how one file's imports bind names to package modules.

The caller roots are the package itself, the whole of
``__spark_entry__.py``, ``bench.py``, ``perfbench/*.py`` and
``tools/*.py``, and any console-script entry point in ``pyproject.toml``.
"""

from __future__ import annotations

import ast
import tomllib
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "simple_osm_queries_spark"


def module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


MODULES = {module_name(p) for p in PACKAGE.rglob("*.py")}


def package_trees():
    """(module name, parsed tree) of every package file, in path order."""
    for path in sorted(PACKAGE.rglob("*.py")):
        yield module_name(path), ast.parse(path.read_text())


def root_trees():
    """Parsed tree of every caller file outside the package and ``tests/``."""
    files = [REPO / "__spark_entry__.py", REPO / "bench.py"]
    files += sorted((REPO / "perfbench").glob("*.py"))
    files += sorted((REPO / "tools").glob("*.py"))
    for path in files:
        yield ast.parse(path.read_text())


def entry_points() -> list[tuple[str, str]]:
    """(module, top-level name) of every console script in pyproject.toml."""
    scripts = tomllib.loads((REPO / "pyproject.toml").read_text())
    out = []
    for target in scripts.get("project", {}).get("scripts", {}).values():
        module, _, attr = target.partition(":")
        out.append((module, attr.split(".")[0]))
    return out


class Scope:
    """What one file's imports bind: aliases of package modules, and names
    imported from a module (``from <module> import name [as alias]``)."""

    def __init__(self, tree: ast.AST, module: str | None):
        self.module = module
        self.modules: dict[str, set[str]] = {}
        self.symbols: dict[str, set[tuple[str, str]]] = {}
        for n in ast.walk(tree):
            if isinstance(n, ast.Import):
                for a in n.names:
                    # `import a.b as x` binds x to a.b; `import a.b` binds a to a
                    bound = a.asname or a.name.split(".")[0]
                    self.modules.setdefault(bound, set()).add(a.name if a.asname else bound)
            elif isinstance(n, ast.ImportFrom) and n.module and not n.level:
                for a in n.names:
                    bound, full = a.asname or a.name, f"{n.module}.{a.name}"
                    if full in MODULES:
                        self.modules.setdefault(bound, set()).add(full)
                    else:
                        self.symbols.setdefault(bound, set()).add((n.module, a.name))

    def module_of(self, node: ast.AST) -> set[str]:
        if isinstance(node, ast.Name):
            return self.modules.get(node.id, set())
        if isinstance(node, ast.Attribute):
            subs = {f"{m}.{node.attr}" for m in self.module_of(node.value)}
            return subs & MODULES
        return set()

    def refs(self, node: ast.AST) -> set:
        """Bare names, plus (module, name) for every module-qualified one."""
        out: set = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
                out |= self.symbols.get(n.id, set())
                if self.module:
                    out.add((self.module, n.id))
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
                out |= {(m, n.attr) for m in self.module_of(n.value)}
        return out


def reexports() -> dict[tuple[str, str], tuple[str, str]]:
    """{(module, name): (source module, name)} of the package's
    module-level ``from <package module> import name`` statements."""
    out = {}
    for module, tree in package_trees():
        for st in tree.body:
            if isinstance(st, ast.ImportFrom) and st.module in MODULES:
                for a in st.names:
                    if f"{st.module}.{a.name}" not in MODULES:  # a name, not a submodule
                        out[(module, a.asname or a.name)] = (st.module, a.name)
    return out

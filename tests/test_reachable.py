"""Every top-level ``def``/``class`` of the package has a caller outside
``tests/``: code that only tests reach either gets a caller or leaves the
package (an oracle moves to ``tests/``, anything else is deleted).

AST only, no Spark. The roots are the package's module-level statements
(including decorators, default values and base classes of its top-level
definitions), the whole of ``__spark_entry__.py``, ``bench.py``,
``perfbench/*.py`` and ``tools/*.py``, any console-script entry point in
``pyproject.toml``, and the ``EXCEPTIONS`` below. From them the walk
follows name references transitively: a reached definition reaches every
name its body mentions (as a bare name or as an attribute).

A name that one package module defines is matched by name alone. A name
that two or more modules define (``s2.lnglat_to_cell`` and
``h3_encode.lnglat_to_cell``, say) is matched by module: a definition is
reached only through a reference that names its own module — a bare name
inside that module, ``from <module> import name``, or ``<alias>.name``
with ``<alias>`` bound to that module — so one reached twin does not keep
the other alive.
"""

from __future__ import annotations

import ast
import tomllib
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "simple_osm_queries_spark"

# Names kept without a caller, each for a stated reason. The list can only
# shrink: a name that gains a caller must leave it (see the second test).
EXCEPTIONS = {
    # raster -> vector, the half of BASELINE's raster<->vector north rule
    # that no gate query covers (q_tiles checks vector -> raster only)
    "raster_to_bins": "raster -> vector direction of the tile bridge",
    "pixel_bins_to_points": "raster -> vector direction of the tile bridge",
    # BASELINE's image table has no location column: GPS EXIF is the only
    # path from an image row into the spatial operators
    "parse_exif": "image -> point bridge (GPS EXIF)",
    "extract_exif": "image -> point bridge (GPS EXIF)",
    "geotag_points": "image -> point bridge (GPS EXIF)",
    "knn_join": "embedding kNN join, to be rewritten (ROADMAP direction 3)",
    # README documents snapshot time travel; gc_snapshots is the only bound
    # on the backups every upsert keeps
    "read_index_version": "snapshot time travel documented in README",
    "gc_snapshots": "the only bound on upsert snapshot retention",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


MODULES = {_module_name(p) for p in PACKAGE.rglob("*.py")}


class _Scope:
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


def _package():
    """({name: [(module, definition, its refs)]}, refs of module-level
    code, {(module, name): (source module, name)} of package re-exports)."""
    defs: dict[str, list] = {}
    module_level: set = set()
    reexports: dict[tuple[str, str], tuple[str, str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        module = _module_name(path)
        tree = ast.parse(path.read_text())
        scope = _Scope(tree, module)
        for st in tree.body:
            if isinstance(st, ast.ImportFrom) and st.module in MODULES:
                for a in st.names:
                    if f"{st.module}.{a.name}" not in MODULES:  # a name, not a submodule
                        reexports[(module, a.asname or a.name)] = (st.module, a.name)
            if not isinstance(st, _DEFS):
                module_level |= scope.refs(st)
                continue
            defs.setdefault(st.name, []).append((module, st, scope.refs(st)))
            evaluated = list(st.decorator_list)
            if isinstance(st, ast.ClassDef):
                evaluated += st.bases + [k.value for k in st.keywords]
            else:
                evaluated += st.args.defaults + [d for d in st.args.kw_defaults if d]
            for node in evaluated:
                module_level |= scope.refs(node)
    return defs, module_level, reexports


def _entry_roots() -> set:
    files = [REPO / "__spark_entry__.py", REPO / "bench.py"]
    files += sorted((REPO / "perfbench").glob("*.py"))
    files += sorted((REPO / "tools").glob("*.py"))
    roots: set = set()
    for path in files:
        tree = ast.parse(path.read_text())
        roots |= _Scope(tree, None).refs(tree)
    scripts = tomllib.loads((REPO / "pyproject.toml").read_text())
    for target in scripts.get("project", {}).get("scripts", {}).values():
        module, _, attr = target.partition(":")
        roots |= {attr.split(".")[0], (module, attr.split(".")[0])}
    return roots


def _reached(defs, reexports, roots: set) -> set[tuple[str, str]]:
    """(module, name) of every definition the roots reach."""
    seen: set = set()
    reached: set[tuple[str, str]] = set()
    todo = list(roots)
    while todo:
        ref = todo.pop()
        if ref in seen:
            continue
        seen.add(ref)
        if isinstance(ref, str):
            found = defs.get(ref, ())
            if len({module for module, _node, _refs in found}) > 1:
                continue  # defined in several modules: only a qualified ref reaches
        else:
            while ref in reexports:
                ref = reexports[ref]
            module, name = ref
            found = [d for d in defs.get(name, ()) if d[0] == module]
        for module, node, refs in found:
            if (module, node.name) not in reached:
                reached.add((module, node.name))
                todo.extend(refs - seen)
    return reached


def _unreached(defs, reached: set[tuple[str, str]]) -> list[str]:
    return sorted(
        f"{module}:{node.lineno} {name}"
        for name, found in defs.items()
        for module, node, _refs in found
        if (module, name) not in reached
    )


def test_every_package_name_has_a_caller_outside_tests():
    defs, module_level, reexports = _package()
    reached = _reached(defs, reexports, module_level | _entry_roots() | set(EXCEPTIONS))
    unreached = _unreached(defs, reached)
    assert not unreached, (
        "only tests reach these definitions; give each a caller outside "
        "tests/, move an oracle or fixture builder to tests/, or delete it:\n"
        + "\n".join(unreached)
    )


def test_exceptions_have_no_caller_and_exist():
    defs, module_level, reexports = _package()
    assert set(EXCEPTIONS) <= set(defs), sorted(set(EXCEPTIONS) - set(defs))
    reached = _reached(defs, reexports, module_level | _entry_roots())
    called = sorted({name for _module, name in reached} & set(EXCEPTIONS))
    assert not called, f"these exceptions now have a caller; drop them from EXCEPTIONS: {called}"


def test_twin_names_are_matched_by_module():
    """A reference through one module's alias reaches that module's
    definition only, not a same-named one elsewhere in the package."""
    defs, _module_level, reexports = _package()
    twins = {"simple_osm_queries_spark.functions.s2", "simple_osm_queries_spark.functions.h3_encode"}
    assert twins <= {m for m, _node, _refs in defs["lnglat_to_cell"]}
    tree = ast.parse("from simple_osm_queries_spark.functions import s2 as S\nS.lnglat_to_cell(x, y)")
    reached = _reached(defs, reexports, _Scope(tree, None).refs(tree))
    assert ("simple_osm_queries_spark.functions.s2", "lnglat_to_cell") in reached
    assert ("simple_osm_queries_spark.functions.h3_encode", "lnglat_to_cell") not in reached

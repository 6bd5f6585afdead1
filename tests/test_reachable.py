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

Matching is by name only, not by module. A reached function that shares
its name with an unreached one (``s2.cell_to_lnglat`` and
``h3_encode.cell_to_lnglat``, say) marks both reached, so this check is a
lower bound on dead code, never a false alarm.
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


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _package() -> tuple[dict[str, list[tuple[str, ast.AST]]], set[str]]:
    """({name: [(module, definition)]}, names the module-level code uses)."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    module_level: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = str(path.relative_to(REPO))
        for st in ast.parse(path.read_text()).body:
            if not isinstance(st, _DEFS):
                module_level |= _names(st)
                continue
            defs.setdefault(st.name, []).append((module, st))
            evaluated = list(st.decorator_list)
            if isinstance(st, ast.ClassDef):
                evaluated += st.bases + [k.value for k in st.keywords]
            else:
                evaluated += st.args.defaults + [d for d in st.args.kw_defaults if d]
            for node in evaluated:
                module_level |= _names(node)
    return defs, module_level


def _entry_roots() -> set[str]:
    files = [REPO / "__spark_entry__.py", REPO / "bench.py"]
    files += sorted((REPO / "perfbench").glob("*.py"))
    files += sorted((REPO / "tools").glob("*.py"))
    roots: set[str] = set()
    for path in files:
        roots |= _names(ast.parse(path.read_text()))
    scripts = tomllib.loads((REPO / "pyproject.toml").read_text())
    for target in scripts.get("project", {}).get("scripts", {}).values():
        roots.add(target.rsplit(":", 1)[-1].split(".")[-1])
    return roots


def _reached(defs, roots: set[str]) -> set[str]:
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _module, node in defs.get(name, ()):
            todo.extend(_names(node) - seen)
    return seen


def _unreached(defs, reached: set[str]) -> list[str]:
    return sorted(
        f"{module}:{node.lineno} {name}"
        for name, found in defs.items()
        if name not in reached
        for module, node in found
    )


def test_every_package_name_has_a_caller_outside_tests():
    defs, module_level = _package()
    reached = _reached(defs, module_level | _entry_roots() | set(EXCEPTIONS))
    unreached = _unreached(defs, reached)
    assert not unreached, (
        "only tests reach these definitions; give each a caller outside "
        "tests/, move an oracle or fixture builder to tests/, or delete it:\n"
        + "\n".join(unreached)
    )


def test_exceptions_have_no_caller_and_exist():
    defs, module_level = _package()
    assert set(EXCEPTIONS) <= set(defs), sorted(set(EXCEPTIONS) - set(defs))
    reached = _reached(defs, module_level | _entry_roots())
    called = sorted(set(EXCEPTIONS) & reached)
    assert not called, f"these exceptions now have a caller; drop them from EXCEPTIONS: {called}"

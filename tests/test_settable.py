"""Every defaulted parameter of the package has a caller outside ``tests/``
that sets it: an option that only tests set either gains such a caller or
goes, and the code uses the value every caller gets (a fixed column, a
module constant that tests patch, or the one branch callers run).

AST only, no Spark. The callers are the roots of ``test_reachable``
(``tests/package_ast.py``): the package itself, ``__spark_entry__.py``,
``bench.py``, ``perfbench/*.py`` and ``tools/*.py``. A parameter is a
function's or method's parameter with a default, or a defaulted field of a
dataclass (a parameter of its generated ``__init__``).

A call sets a parameter when it passes it by keyword, passes a positional
argument at its index (a bound method's ``self`` is index 0), or passes
``*args`` at or before its index or ``**kwargs``. A call that passes one of
the enclosing function's own defaulted parameters straight on
(``encode_layer(..., extent)`` inside ``encode_tile(..., extent=4096)``)
sets it only if that enclosing parameter is itself set, so the walk runs
to a fixpoint; an excepted parameter counts as set.

Calls are matched to definitions by name, as ``test_reachable`` matches
references: a function or class name that one package module defines is
matched by name alone; one that several modules define is matched by
module (a bare name inside that module, ``from <module> import name``, or
``<alias>.name``). A method call ``obj.name(...)`` reaches every method of
that name and a top-level function of that name that one module defines.
"""

from __future__ import annotations

import ast

from tests.package_ast import Scope, package_trees, reexports, root_trees

# Parameters kept without a caller that sets them, each for a stated reason.
# The list can only shrink: a parameter that gains a setting caller must
# leave it (see the second test).
EXCEPTIONS = {
    "cli.main:argv": "argparse reads sys.argv when unset; the console entry passes nothing",
    "build.build_index:backend": "table format of a deployment (BASELINE: parquet or iceberg)",
    "build.build_index:iceberg_table": "catalog table of the iceberg backend (environment-gated)",
    "clustering.dbscan:checkpoint_dir": "reliable checkpoint storage of a cluster deployment",
    "dataset.from_generator:n_ways": "data input: synthetic dataset size",
    "dataset.from_generator:n_relations": "data input: synthetic dataset size",
    "osm_pbf.write_osm_pbf:ways": "data input: the ways to write",
    "osm_pbf.write_osm_pbf:relations": "data input: the relations to write",
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_COMPS = (ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)


class _Def:
    """One callable: its positional parameter names, the defaulted ones,
    and whether calls bind ``self``/``cls`` first."""

    def __init__(self, module, qualname, positional, defaulted, bound, node):
        self.module, self.qualname, self.node = module, qualname, node
        self.positional, self.defaulted, self.bound = positional, defaulted, bound
        self.key = f"{module.split('.')[-1]}.{qualname}"

    @classmethod
    def of_function(cls, module, qualname, fn, in_class):
        a = fn.args
        positional = [p.arg for p in a.posonlyargs + a.args]
        defaulted = positional[len(positional) - len(a.defaults) :]
        defaulted += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        decorators = {d.id for d in fn.decorator_list if isinstance(d, ast.Name)}
        bound = in_class and "staticmethod" not in decorators
        return cls(module, qualname, positional, defaulted, bound, fn)

    @classmethod
    def of_dataclass(cls, module, node):
        fields = [
            st for st in node.body
            if isinstance(st, ast.AnnAssign) and isinstance(st.target, ast.Name)
        ]
        positional = ["self"] + [f.target.id for f in fields]
        defaulted = [f.target.id for f in fields if f.value is not None]
        return cls(module, node.name, positional, defaulted, True, node)

    def params_set(self, call: ast.Call, via_attribute: bool):
        """(parameter, the argument expression or None) for every defaulted
        parameter ``call`` sets."""
        constructor = isinstance(self.node, ast.ClassDef) or self.qualname.endswith(".__init__")
        shift = 1 if self.bound and (via_attribute or constructor) else 0
        out = []
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                out += [(p, None) for p in self.positional[i + shift :] if p in self.defaulted]
                break
            if i + shift < len(self.positional) and self.positional[i + shift] in self.defaulted:
                out.append((self.positional[i + shift], arg))
        for kw in call.keywords:
            if kw.arg is None:
                out += [(p, None) for p in self.defaulted]
            elif kw.arg in self.defaulted:
                out.append((kw.arg, kw.value))
        return out


def _is_dataclass(node: ast.ClassDef) -> bool:
    for d in node.decorator_list:
        target = d.func if isinstance(d, ast.Call) else d
        if isinstance(target, ast.Name) and target.id == "dataclass":
            return True
    return False


def _definitions(trees) -> dict[str, list[_Def]]:
    """{name: [_Def]} over ``trees`` [(module, tree)]: a function or method
    under its own name, a class under its name (its ``__init__``, or its
    dataclass fields)."""
    defs: dict[str, list[_Def]] = {}

    def visit(module, node, prefix, in_class):
        for st in ast.iter_child_nodes(node):
            if isinstance(st, _FUNCS):
                d = _Def.of_function(module, prefix + st.name, st, in_class)
                defs.setdefault(st.name, []).append(d)
                if in_class and st.name == "__init__":
                    defs.setdefault(prefix[:-1].split(".")[-1], []).append(d)
                visit(module, st, prefix + st.name + ".", False)
            elif isinstance(st, ast.ClassDef):
                if _is_dataclass(st):
                    defs.setdefault(st.name, []).append(_Def.of_dataclass(module, st))
                visit(module, st, prefix + st.name + ".", True)
            else:
                visit(module, st, prefix, in_class)

    for module, tree in trees:
        visit(module, tree, "", False)
    return defs


def _callees(defs, scope: Scope, reexp, func: ast.AST) -> tuple[list[_Def], bool]:
    """(definitions a call's ``func`` may reach, whether it is an attribute)."""

    def in_module(module, name):
        while (module, name) in reexp:
            module, name = reexp[(module, name)]
        return [d for d in defs.get(name, ()) if d.module == module]

    def unique(name):
        found = defs.get(name, ())
        return list(found) if len({d.module for d in found}) == 1 else []

    if isinstance(func, ast.Name):
        out = in_module(scope.module, func.id) if scope.module else []
        for module, orig in scope.symbols.get(func.id, ()):
            out += in_module(module, orig)
        return out or unique(func.id), False
    if isinstance(func, ast.Attribute):
        modules = scope.module_of(func.value)
        if modules:
            return [d for m in modules for d in in_module(m, func.attr)], True
        found = defs.get(func.attr, ())
        return [d for d in found if d.bound] + [d for d in unique(func.attr) if not d.bound], True
    return [], False


def _forwarded(arg, enclosing):
    """(definition, parameter) when ``arg`` is a bare read of an enclosing
    package function's own defaulted parameter; ``enclosing`` is
    innermost-first [(names a scope binds, its _Def or None)]."""
    if isinstance(arg, ast.Name):
        for bound, own in enclosing:
            if arg.id in bound:
                return (own, arg.id) if own is not None and arg.id in own.defaulted else None
    return None


def _calls(defs, callers, reexp) -> list[tuple[_Def, str, tuple | None]]:
    """(callee, parameter, forwarded (definition, parameter) or None) for
    every defaulted parameter a call in ``callers`` [(module or None,
    tree)] passes."""
    by_node = {id(d.node): d for found in defs.values() for d in found}
    out = []

    def walk(node, scope, enclosing):
        if isinstance(node, ast.Call):
            callees, via_attribute = _callees(defs, scope, reexp, node.func)
            for d in callees:
                for param, arg in d.params_set(node, via_attribute):
                    out.append((d, param, _forwarded(arg, enclosing)))
        if isinstance(node, _FUNCS + (ast.Lambda,)):
            bound = {a.arg for a in ast.walk(node.args) if isinstance(a, ast.arg)}
            enclosing = [(bound, by_node.get(id(node)))] + enclosing
        elif isinstance(node, _COMPS):
            targets = [n for g in node.generators for n in ast.walk(g.target)]
            bound = {n.id for n in targets if isinstance(n, ast.Name)}
            enclosing = [(bound, None)] + enclosing
        for child in ast.iter_child_nodes(node):
            walk(child, scope, enclosing)

    for module, tree in callers:
        walk(tree, Scope(tree, module), [])
    return out


def _settable(calls, seed: set) -> set:
    """(callee key, parameter) of every parameter some call sets, to a
    fixpoint over forwards; ``seed`` counts as set."""
    settable = set(seed)
    while True:
        grown = {
            (d.key, p)
            for d, p, fwd in calls
            if fwd is None or (fwd[0].key, fwd[1]) in settable
        }
        if grown <= settable:
            return settable
        settable |= grown


def _parameters(defs) -> set[tuple[str, str]]:
    return {(d.key, p) for found in defs.values() for d in found for p in d.defaulted}


def _package_calls():
    trees = list(package_trees())
    defs = _definitions(trees)
    callers = trees + [(None, tree) for tree in root_trees()]
    return defs, _calls(defs, callers, reexports())


def _keys(pairs) -> set[str]:
    return {f"{key}:{param}" for key, param in pairs}


def test_every_defaulted_parameter_has_a_setting_caller_outside_tests():
    defs, calls = _package_calls()
    seed = {tuple(k.rsplit(":", 1)) for k in EXCEPTIONS}
    unset = sorted(_keys(_parameters(defs) - _settable(calls, seed)))
    assert not unset, (
        "no caller outside tests/ sets these defaulted parameters; give each "
        "a caller that sets it, or remove it and use the value every caller "
        "gets (a fixed column, a module constant tests can patch, or the one "
        "branch callers run):\n" + "\n".join(unset)
    )


def test_exceptions_exist_and_have_no_setting_caller():
    defs, calls = _package_calls()
    missing = sorted(set(EXCEPTIONS) - _keys(_parameters(defs)))
    assert not missing, f"these exceptions name no defaulted parameter: {missing}"
    assert all(reason.strip() for reason in EXCEPTIONS.values())
    set_now = sorted(set(EXCEPTIONS) & _keys(_settable(calls, set())))
    assert not set_now, (
        f"these exceptions now have a setting caller; drop them from EXCEPTIONS: {set_now}"
    )


def test_forwarding_an_unset_parameter_does_not_set_it():
    """encode_tile forwards its own extent to encode_layer: neither is set
    until a caller sets encode_tile's, then both are (the fixpoint)."""
    src = (
        "def encode_layer(layers, extent=4096, version=2):\n    return layers\n"
        "def encode_tile(layers, extent=4096):\n    return encode_layer(layers, extent)\n"
        "def caller():\n    return encode_layer([], version=3)\n"
    )
    tree = ast.parse(src)
    defs = _definitions([("pkg.mvt", tree)])

    def unset(extra):
        callers = [("pkg.mvt", tree)] + [(None, ast.parse(s)) for s in extra]
        calls = _calls(defs, callers, {})
        return sorted(_keys(_parameters(defs) - _settable(calls, set())))

    assert unset([]) == ["mvt.encode_layer:extent", "mvt.encode_tile:extent"]
    assert unset(["from pkg.mvt import encode_tile\nencode_tile([], 512)"]) == []
    # a twin in another module is matched by module: setting it sets no other
    twin = ast.parse("def encode_tile(layers, extent=4096):\n    return layers\n")
    defs = _definitions([("pkg.mvt", tree), ("pkg.png", twin)])
    caller = ast.parse("from pkg.png import encode_tile\nencode_tile([], 512)")
    calls = _calls(defs, [(None, caller)], {})
    assert "mvt.encode_tile:extent" not in _keys(_settable(calls, set()))
    assert "png.encode_tile:extent" in _keys(_settable(calls, set()))

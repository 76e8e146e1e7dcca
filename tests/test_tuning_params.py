"""Operators keep their tuning values as module constants: every
defaulted parameter of a module-level ``convoy_spark`` function is set
by at least one call site in the repo (package, tools, perfbench,
bench.py, the driver entry and the tests). A default that nothing
overrides is a constant, not a parameter.

Two parameters are exempt. ``read_csv(header, sep)`` describe the
format of a file from outside the program, and
``run_incremental_mixture(feedback)`` selects the documented
feedback-rate algorithm.

Call sites are resolved through imports, including aliases
(``from m import f as g``), module aliases (``import m as x; x.f()``),
relative imports, package re-exports and function-level imports. A
call that splats ``*args`` or ``**kwargs`` counts as setting every
parameter it could reach. The check parses the source, so it needs no
Spark session."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "convoy_spark"

EXEMPT = {
    ("sources/csvsrc.py", "read_csv", "header"),
    ("sources/csvsrc.py", "read_csv", "sep"),
    ("streaming/mixture.py", "run_incremental_mixture", "feedback"),
}


def _module(path: pathlib.Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _sources() -> dict[pathlib.Path, ast.Module]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("convoy_spark", "tools", "perfbench", "tests"):
        files += sorted((ROOT / d).rglob("*.py"))
    return {f: ast.parse(f.read_text()) for f in files if f.exists()}


def _bindings(path, tree, modules) -> dict[str, tuple]:
    """name -> ("mod", module) | ("obj", module, attr) for every
    ``convoy_spark`` import anywhere in the file."""
    here = _module(path).split(".")
    if path.name != "__init__.py":
        here = here[:-1]
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            src = node.module
            if node.level:
                base = here[: len(here) - node.level + 1]
                src = ".".join(base + ([node.module] if node.module else []))
            if not src or not src.startswith("convoy_spark"):
                continue
            for a in node.names:
                full = f"{src}.{a.name}"
                bound = ("mod", full) if full in modules else ("obj", src, a.name)
                out[a.asname or a.name] = bound
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("convoy_spark"):
                    out[a.asname or "convoy_spark"] = (
                        "mod", a.name if a.asname else "convoy_spark"
                    )
    return out


def unset_defaults() -> set[tuple[str, str, str]]:
    """(file, function, parameter) for every defaulted parameter that
    no call site sets."""
    trees = _sources()
    modules = {_module(f): f for f in trees if PACKAGE in f.parents}
    sigs = {}  # (module, function) -> (positional names, defaulted names)
    for mod, f in modules.items():
        for node in trees[f].body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                pos = [p.arg for p in a.posonlyargs + a.args]
                dflt = pos[len(pos) - len(a.defaults):] if a.defaults else []
                dflt += [
                    p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
                ]
                sigs[(mod, node.name)] = (pos, dflt)
    binds = {f: _bindings(f, t, modules) for f, t in trees.items()}

    def resolve_obj(mod, attr, depth=0):
        if (mod, attr) in sigs:
            return (mod, attr)
        b = binds[modules[mod]].get(attr) if mod in modules and depth < 8 else None
        return resolve_obj(b[1], b[2], depth + 1) if b and b[0] == "obj" else None

    def resolve(path, func):
        if isinstance(func, ast.Name):
            b = binds[path].get(func.id)
            if b and b[0] == "obj":
                return resolve_obj(b[1], b[2])
            own = (_module(path), func.id)
            return own if own in sigs and b is None else None
        chain = []
        while isinstance(func, ast.Attribute):
            chain.insert(0, func.attr)
            func = func.value
        b = binds[path].get(func.id) if isinstance(func, ast.Name) else None
        if not chain or not b or b[0] != "mod":
            return None
        mod = b[1]
        for part in chain[:-1]:
            mod = f"{mod}.{part}"
            if mod not in modules:
                return None
        return resolve_obj(mod, chain[-1])

    set_by_call = set()
    for path, tree in trees.items():
        for node in ast.walk(tree):
            key = isinstance(node, ast.Call) and resolve(path, node.func)
            if not key:
                continue
            pos, dflt = sigs[key]
            splat = any(k.arg is None for k in node.keywords)
            n_pos = len(pos) if any(
                isinstance(a, ast.Starred) for a in node.args
            ) else len(node.args)
            named = {k.arg for k in node.keywords}
            for p in dflt:
                if splat or p in named or (p in pos and pos.index(p) < n_pos):
                    set_by_call.add(key + (p,))
    return {
        (modules[mod].relative_to(PACKAGE).as_posix(), fn, p)
        for (mod, fn), (_, dflt) in sigs.items()
        for p in dflt
        if (mod, fn, p) not in set_by_call
    }


def test_every_default_is_overridden_somewhere():
    assert unset_defaults() == EXEMPT

"""No library code that only tests call.

A name-based reachability scan over the package source: pure ``ast``,
no Spark, no imports of the package. The roots are:

- every ``@query`` lane;
- all module-level code of the package (imports, constants,
  decorators, default values, class bases);
- ``__main__.py``, and the repo's entry points outside the package:
  ``bench.py``, ``__spark_entry__.py``, ``scripts/`` and
  ``perfbench/`` (its own tests excluded).

From each reached body the scan follows ``Name`` ids, ``Attribute``
attrs and ``ImportFrom`` names. Inside the package it also follows
string constants that are identifiers, because dispatch tables there
name functions by string; the entry points only name lanes and labels
that way (``bench.py``'s family keys would otherwise reach a def that
shares a family's name). A top-level def or class is reached when its
name is, in whichever module it lives.

``tests/`` is never a root, so a def that only tests call stays
unreached and fails the first test below. Move a
test fixture into ``tests/``; delete a def whose twin the lanes run.

The second test applies the same idea to options: a parameter with a
default on a package def or class method (``@query`` lanes aside)
must be set by some call outside ``tests/``. A call sets it when the
callee's name matches (the class name for ``__init__``) and it passes
the parameter by keyword, by position, or through ``*``/``**``. An
option that every caller leaves at its default is a constant: write
the value into the code, or make it a module constant that tests
monkeypatch.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "babylon_data_loader_spark")

# Defs no lane reaches that stay on purpose, each with its reason.
ALLOWED = {
    # the reference client's surface (apiClient.go): the history call,
    # the echo probe, the response classifier and its three errors
    "api.get_transaction_history": "reference apiClient.go surface",
    "api.do_echo": "reference apiClient.go surface",
    "api.classify_response": "reference apiClient.go surface",
    "api.BabylonAPIError": "reference apiClient.go error class",
    "api.UnexpectedStatusCodeError": "reference apiClient.go error class",
    "api.BodyUnmarshallError": "reference apiClient.go error class",
    # the object-store commit contract the lake's concurrency work is
    # tested against (compare-and-swap with a precondition failure)
    "operators.commit_backend.ObjectStoreCommitBackend": (
        "object-store commit backend contract"
    ),
    "operators.commit_backend.PreconditionFailed": (
        "object-store commit backend contract"
    ),
}

# Options no caller outside tests sets that stay on purpose.
ALLOWED_OPTIONS = {
    "session.build_session(master)": "session deployment setting",
    "session.build_session(shuffle_partitions)": (
        "session deployment setting"
    ),
    # storage/mongo_repository.go reads one source's collection
    "sources.parquet_lake.read_transactions(data_source)": (
        "reference per-source collection read"
    ),
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_DEFS = _FUNCS + (ast.ClassDef,)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _names(nodes, strings: bool) -> set[str]:
    out: set[str] = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                out.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                out.add(sub.attr)
            elif isinstance(sub, ast.ImportFrom):
                out.update(a.name for a in sub.names)
            elif (
                strings
                and isinstance(sub, ast.Constant)
                and isinstance(sub.value, str)
                and sub.value.isidentifier()
            ):
                out.add(sub.value)
    return out


def _is_query_lane(node) -> bool:
    for deco in getattr(node, "decorator_list", ()):
        fn = deco.func if isinstance(deco, ast.Call) else deco
        if isinstance(fn, ast.Name) and fn.id == "query":
            return True
    return False


def _import_time_parts(node) -> list:
    """The parts of a top-level def that run when its module is
    imported: decorators, default values, class bases and keywords."""
    parts = list(node.decorator_list)
    if isinstance(node, ast.ClassDef):
        return parts + node.bases + [k.value for k in node.keywords]
    args = node.args
    return parts + args.defaults + [d for d in args.kw_defaults if d]


def _entry_files() -> list[str]:
    files = [
        os.path.join(REPO, "bench.py"),
        os.path.join(REPO, "__spark_entry__.py"),
        os.path.join(PKG, "__main__.py"),
    ]
    files += sorted(glob.glob(os.path.join(REPO, "scripts", "*.py")))
    files += sorted(
        p
        for p in glob.glob(os.path.join(REPO, "perfbench", "*.py"))
        if not os.path.basename(p).startswith(("test_", "conftest"))
    )
    return [p for p in files if os.path.exists(p)]


def _package_modules() -> list[tuple[str, ast.Module]]:
    """``(dotted module name, parsed module)`` for every package
    module but ``__main__.py``, which is a root."""
    main = os.path.join(PKG, "__main__.py")
    out = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        if path == main:
            continue
        mod = os.path.relpath(path, PKG)[: -len(".py")].replace(os.sep, ".")
        mod = mod.removesuffix(".__init__").removesuffix("__init__")
        out.append((mod, _parse(path)))
    return out


def unreached_defs() -> dict[str, int]:
    """``{"<module>.<def>": line count}`` for every top-level def of
    the package that no root reaches."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    pending: list[str] = []
    for mod, tree in _package_modules():
        body = tree.body
        module_level = []
        for node in body:
            if isinstance(node, _DEFS):
                defs.setdefault(node.name, []).append((mod, node))
                module_level += _import_time_parts(node)
                if _is_query_lane(node):
                    pending += _names([node], strings=True)
            else:
                module_level.append(node)
        pending += _names(module_level, strings=True)
    for path in _entry_files():
        pending += _names([_parse(path)], strings=False)

    seen: set[str] = set()
    while pending:
        name = pending.pop()
        if name in seen:
            continue
        seen.add(name)
        for _mod, node in defs.get(name, ()):
            pending += _names([node], strings=True)

    return {
        f"{mod}.{name}": node.end_lineno - node.lineno + 1
        for name, found in defs.items()
        if name not in seen
        for mod, node in found
    }


def test_every_library_def_is_reached():
    unreached = unreached_defs()
    stray = sorted(set(unreached) - set(ALLOWED))
    assert not stray, (
        "library defs that no lane, CLI command, script or benchmark "
        "reaches (only tests call them): "
        + ", ".join(f"{d} ({unreached[d]} lines)" for d in stray)
    )
    # an entry whose def was deleted, or that a root now reaches, is
    # stale: drop it so the allowlist stays the list of exceptions
    stale = sorted(set(ALLOWED) - set(unreached))
    assert not stale, f"stale allowlist entries: {stale}"


def _options(fn, method: bool) -> list[tuple[str, int | None]]:
    """``(name, position at the call site)`` of each defaulted
    parameter; a keyword-only one has no position, and a method's
    ``self``/``cls`` is not passed positionally."""
    args = fn.args
    pos = args.posonlyargs + args.args
    skip = int(
        method
        and not any(
            isinstance(d, ast.Name) and d.id == "staticmethod"
            for d in fn.decorator_list
        )
    )
    first_default = len(pos) - len(args.defaults)
    out = [(a.arg, i - skip) for i, a in enumerate(pos) if i >= first_default]
    out += [
        (a.arg, None)
        for a, d in zip(args.kwonlyargs, args.kw_defaults)
        if d is not None
    ]
    return out


def _sets(call: ast.Call, name: str, position: int | None) -> bool:
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    if any(k.arg is None or k.arg == name for k in call.keywords):
        return True
    return position is not None and position < len(call.args)


def unset_options() -> list[str]:
    """``"<module>.<def>(<param>)"`` for each option that no call
    outside ``tests/`` sets."""
    options = []  # (label, callee name, parameter, position)
    trees = []
    for mod, tree in _package_modules():
        trees.append(tree)
        for node in tree.body:
            if isinstance(node, _FUNCS) and not _is_query_lane(node):
                for p, i in _options(node, method=False):
                    options.append((f"{mod}.{node.name}({p})", node.name, p, i))
            elif isinstance(node, ast.ClassDef):
                for fn in node.body:
                    if not isinstance(fn, _FUNCS):
                        continue
                    callee = node.name if fn.name == "__init__" else fn.name
                    for p, i in _options(fn, method=True):
                        label = f"{mod}.{node.name}.{fn.name}({p})"
                        options.append((label, callee, p, i))
    trees += [_parse(p) for p in _entry_files()]

    calls: dict[str, list[ast.Call]] = {}
    for tree in trees:
        for sub in ast.walk(tree):
            if not isinstance(sub, ast.Call):
                continue
            fn = sub.func
            if isinstance(fn, ast.Name):
                calls.setdefault(fn.id, []).append(sub)
            elif isinstance(fn, ast.Attribute):
                calls.setdefault(fn.attr, []).append(sub)

    return [
        label
        for label, callee, p, i in options
        if not any(_sets(c, p, i) for c in calls.get(callee, ()))
    ]


def test_every_option_is_set_outside_tests():
    unset = unset_options()
    stray = sorted(set(unset) - set(ALLOWED_OPTIONS))
    assert not stray, (
        f"{len(stray)} options that no lane, CLI command, script or "
        "benchmark sets (only tests do; make each a constant): "
        + ", ".join(stray)
    )
    stale = sorted(set(ALLOWED_OPTIONS) - set(unset))
    assert not stale, f"stale option allowlist entries: {stale}"

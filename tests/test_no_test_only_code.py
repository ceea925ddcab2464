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
unreached and fails the test below. Move a
test fixture into ``tests/``; delete a def whose twin the lanes run.
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

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


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


def unreached_defs() -> dict[str, int]:
    """``{"<module>.<def>": line count}`` for every top-level def of
    the package that no root reaches."""
    main = os.path.join(PKG, "__main__.py")
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    pending: list[str] = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        if path == main:
            continue
        mod = os.path.relpath(path, PKG)[: -len(".py")].replace(os.sep, ".")
        mod = mod.removesuffix(".__init__").removesuffix("__init__")
        body = _parse(path).body
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

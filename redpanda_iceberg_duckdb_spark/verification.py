"""Mechanized re-verification trigger (round-8 verdict item 2).

The driver's correctness gate checks only the first 50 queries each round,
so the cumulative-green claim for the tail rests on "nothing changed since
that query's last green row". Through round 7 that rested on the builder
hand-curating __spark_entry__._VERIFY_FIRST; this module replaces the
trust with a committed manifest:

    verification_manifest.json : {query: {"sha": <hex>, "evidence": <tag>}}

``sha`` fingerprints everything that can change a query's semantics that
we can see statically: the source of the module defining the query fn,
the raw source of every package module in its transitive import closure
(a fix in shingles.py, or in a helper that shingles.py imports, voids the
green rows of every query that reaches it), and the oracle SQL. The walk
does not enter package ``__init__`` modules that define no function or
class: they exist to register or group modules (``operators/__init__``
imports every operator so that it registers), and following one would put
the whole package into every closure.

``evidence`` is the CORRECTNESS_r{N} round whose green row proves the
CURRENT sha, or "window-r{N}" meaning the query sits in round N's 50-slot
verify window awaiting that row.

tests/test_driver_contract.py DERIVES the must-verify set: every query
whose current sha mismatches its manifest entry (or has no entry) must be
inside the live window or the pending queue — a silent edit to any query
or helper now fails the suite instead of silently voiding an old green
row. tools/regen_manifest.py refreshes entries for windowed queries.
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import inspect
import json
import os
import sys

_PKG = "redpanda_iceberg_duckdb_spark"
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_MANIFEST_PATH = os.path.join(_REPO_ROOT, "verification_manifest.json")


def _module_source(modname: str) -> str | None:
    try:
        mod = importlib.import_module(modname)
        return inspect.getsource(mod)
    except (ImportError, OSError, TypeError):
        return None


def _is_package(modname: str) -> bool:
    return hasattr(sys.modules.get(modname), "__path__")


def _dep_modules(modname: str, src: str, is_pkg: bool = False) -> list[str]:
    """Absolute candidate module names imported by ``src`` (the source of
    module ``modname``), restricted to this package. Parsed with the ast
    module (round-8 advice: the old line-regex missed continuation lines of
    parenthesized imports, and its anchor arithmetic resolved `from .x` to
    a child of the importing MODULE instead of its package, so no dep ever
    resolved). Both `from .x import y` with y a symbol and y a submodule
    are emitted — candidates that aren't real modules drop out in
    _module_source."""
    parts = modname.split(".")
    if is_pkg:
        parts.append("__init__")   # a package's `from .x` anchors at itself
    cands: list[str] = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.ImportFrom):
            if node.level:
                # `from .x` in pkg.operators.dedup anchors at pkg.operators
                # (one package climb per extra leading dot).
                anchor = parts[: len(parts) - node.level]
                base = ".".join(anchor + ([node.module] if node.module
                                          else []))
            else:
                base = node.module or ""
            if base:
                cands.append(base)
                cands.extend(f"{base}.{a.name}" for a in node.names
                             if a.name != "*")
        elif isinstance(node, ast.Import):
            cands.extend(a.name for a in node.names)
    seen: set[str] = set()
    out: list[str] = []
    for c in cands:
        if c.startswith(_PKG) and c != modname and c not in seen:
            seen.add(c)
            out.append(c)
    return out


def _registration_only(modname: str, src: str) -> bool:
    """A package ``__init__`` with no function or class of its own."""
    return _is_package(modname) and not any(
        isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        for n in ast.walk(ast.parse(src)))


def import_closure(modname: str) -> dict[str, str]:
    """{module: source} for ``modname`` and every package module it reaches
    through imports, skipping registration-only package ``__init__``s."""
    found: dict[str, str] = {}
    seen = {modname}
    todo = [modname]
    while todo:
        name = todo.pop()
        src = _module_source(name)
        if src is None or (name != modname
                           and _registration_only(name, src)):
            continue
        found[name] = src
        for dep in _dep_modules(name, src, _is_package(name)):
            if dep not in seen:
                seen.add(dep)
                todo.append(dep)
    return found


def query_sha(q, closures: dict[str, dict[str, str]] | None = None) -> str:
    """Fingerprint of a registered Query: the raw source of its defining
    module and of every module in that module's import closure, and the
    oracle SQL with the checkout's root replaced by a fixed token (an
    oracle that reads a committed fixture by absolute path hashes the same
    in any checkout). ``closures`` memoizes closures by module across
    calls."""
    modname = inspect.getmodule(q.fn).__name__
    if closures is None:
        closures = {}
    if modname not in closures:
        closures[modname] = import_closure(modname)
    closure = dict(closures[modname])
    h = hashlib.sha256()
    h.update(closure.pop(modname).encode())
    h.update(b"\x00")
    h.update((q.oracle or "").replace(_REPO_ROOT, "<repo>").encode())
    for name in sorted(closure):
        h.update(b"\x01" + name.encode() + b"\x00")
        h.update(closure[name].encode())
    return h.hexdigest()


def current_shas() -> dict[str, str]:
    from .registry import all_queries
    closures: dict[str, dict[str, str]] = {}
    return {name: query_sha(q, closures)
            for name, q in all_queries().items()}


def load_manifest() -> dict[str, dict]:
    if not os.path.exists(_MANIFEST_PATH):
        return {}
    with open(_MANIFEST_PATH) as f:
        return json.load(f)


def save_manifest(m: dict[str, dict]) -> None:
    with open(_MANIFEST_PATH, "w") as f:
        json.dump(dict(sorted(m.items())), f, indent=1, sort_keys=True)
        f.write("\n")


def must_verify(shas: dict[str, str] | None = None) -> set[str]:
    """Queries whose current fingerprint is not backed by the manifest —
    the mechanically derived 'needs a driver-green row' set."""
    manifest = load_manifest()
    shas = shas or current_shas()
    return {name for name, sha in shas.items()
            if manifest.get(name, {}).get("sha") != sha}

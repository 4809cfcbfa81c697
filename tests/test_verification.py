"""Unit tests for the manifest fingerprint (verification.py) — pinned after
the round-8 advice found the relative-import anchor off-by-one made the
dependency hash a silent no-op (every candidate failed to resolve, so a
helper-only edit never invalidated its importers' green rows)."""

from __future__ import annotations

import inspect

from redpanda_iceberg_duckdb_spark import verification
from redpanda_iceberg_duckdb_spark.operators import (
    contamination, quantizer_train)
from redpanda_iceberg_duckdb_spark.registry import all_queries

_PKG = "redpanda_iceberg_duckdb_spark"


def _deps(mod):
    return verification._dep_modules(mod.__name__, inspect.getsource(mod))


def test_single_dot_relative_import_resolves_to_sibling():
    # contamination does `from .shingles import ...` and `from .dedup
    # import ...` — those must anchor at operators (the module's PACKAGE),
    # not at operators.contamination itself (the old bug).
    deps = _deps(contamination)
    assert f"{_PKG}.operators.shingles" in deps
    assert f"{_PKG}.operators.dedup" in deps


def test_double_dot_relative_import_climbs_one_package():
    # contamination's `from ..registry import register` / `from ..tables
    # import load_table` must resolve to the package root modules.
    deps = _deps(contamination)
    assert f"{_PKG}.registry" in deps
    assert f"{_PKG}.tables" in deps


def test_multiline_parenthesized_import_names_captured():
    # quantizer_train imports from .similarity with a multi-line
    # parenthesized list — the old line-regex stopped at the first physical
    # line; ast must see the module regardless.
    deps = _deps(quantizer_train)
    assert f"{_PKG}.operators.similarity" in deps


def test_deps_actually_contribute_to_query_sha(monkeypatch):
    """Editing a directly-imported helper module's source must change the
    importing query's sha (the manifest's advertised guarantee) and must
    NOT change the sha of a query that doesn't import it."""
    q_graph = all_queries()["shared_ngram_span_pairs"]   # imports .shingles
    q_other = all_queries()["bootstrap_ci_by_type"]   # does not
    before_graph = verification.query_sha(q_graph)
    before_other = verification.query_sha(q_other)

    orig = verification._module_source

    def patched(modname):
        src = orig(modname)
        if modname == f"{_PKG}.operators.shingles" and src is not None:
            return src + "\n# helper edited\n"
        return src

    monkeypatch.setattr(verification, "_module_source", patched)
    assert verification.query_sha(q_graph) != before_graph
    assert verification.query_sha(q_other) == before_other


def test_oracle_contributes_to_query_sha():
    q = all_queries()["pagerank_trade_graph"]

    class Tweaked:
        fn = q.fn
        oracle = (q.oracle or "") + " -- tweaked"

    assert verification.query_sha(Tweaked) != verification.query_sha(q)


def _patched_source(monkeypatch, target):
    orig = verification._module_source

    def patched(modname):
        src = orig(modname)
        if modname == target and src is not None:
            return src + "\n# edited\n"
        return src

    monkeypatch.setattr(verification, "_module_source", patched)


def test_helper_two_imports_away_flips_query_sha(monkeypatch):
    """incremental_dedup reaches functions.hashing only through the modules
    it imports; an edit there must still flip its query's fingerprint."""
    from redpanda_iceberg_duckdb_spark.operators import incremental_dedup
    hashing = f"{_PKG}.functions.hashing"
    assert hashing not in _deps(incremental_dedup)
    assert hashing in verification.import_closure(incremental_dedup.__name__)
    q = all_queries()["incremental_dedup_new_batch"]
    before = verification.query_sha(q)
    _patched_source(monkeypatch, hashing)
    assert verification.query_sha(q) != before


def test_unrelated_operator_module_flips_nothing(monkeypatch):
    """Editing an operator module flips only the queries it defines: the
    closure walk never enters operators/__init__, which imports them all."""
    target = f"{_PKG}.operators.luhn14"
    before = verification.current_shas()
    _patched_source(monkeypatch, target)
    after = verification.current_shas()
    flipped = {n for n in before if before[n] != after[n]}
    owned = {n for n, q in all_queries().items()
             if inspect.getmodule(q.fn).__name__ == target}
    assert owned and flipped == owned



def test_triple_dot_relative_import_climbs_two_packages():
    # The graph package sits one level below operators: `from ...registry`
    # reaches the package root and `from ..dedup` the operators package.
    from redpanda_iceberg_duckdb_spark.operators.graph import structure
    deps = _deps(structure)
    assert f"{_PKG}.registry" in deps
    assert f"{_PKG}.tables" in deps
    assert f"{_PKG}.operators.dedup" in deps
    assert f"{_PKG}.operators.graph.edges" in deps

"""Invariants of the registry ``__spark_entry__`` aggregates from the
per-module ``QUERIES``/``ORACLE`` dicts."""

from __future__ import annotations

import hashlib
import os

import pytest

import __spark_entry__ as E

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: md5 over the sorted (name, oracle SQL) pairs, with the checkout path
#: written as ``<repo>``.  Re-pin only when an entry or its oracle text
#: changes on purpose.
_REGISTRY_DIGEST = "ff90385a3a26e1d26b34293f80afdf61"


def test_registry_names_and_oracle_texts_pinned():
    qs, oracles = E.queries(), E.oracle_sql()
    assert len(qs) == 180 and set(qs) == set(oracles)
    h = hashlib.md5()
    for name, sql in sorted(oracles.items()):
        h.update(f"{name}\0{sql.replace(_REPO, '<repo>')}\0".encode())
    assert h.hexdigest() == _REGISTRY_DIGEST


def test_oracles_subset_of_queries_and_nonempty_sql():
    qs, oracles = E.queries(), E.oracle_sql()
    assert set(oracles) <= set(qs)
    assert all(sql.strip() for sql in oracles.values())


def test_rows_only_entries_are_last(monkeypatch):
    """A rows-only entry in the FIRST module still sorts after every
    oracle-backed entry and has no oracle."""
    from zarr_datafusion_spark.operators import zarr_queries

    monkeypatch.setitem(zarr_queries.QUERIES, "probe_rows_only", lambda s, d: None)
    names, oracles = list(E.queries()), E.oracle_sql()
    assert names[-1] == "probe_rows_only"
    assert "probe_rows_only" not in oracles
    assert all(n in oracles for n in names[:-1])


def test_duplicate_names_across_modules_raise(monkeypatch):
    from zarr_datafusion_spark.operators import extras, relational

    name = next(iter(relational.QUERIES))
    monkeypatch.setitem(extras.QUERIES, name, relational.QUERIES[name])
    with pytest.raises(ValueError, match="duplicate query names"):
        E.queries()

"""Driver-contract smoke tests for __spark_entry__.py."""

from __future__ import annotations

import pytest
import importlib


def _entry_mod():
    return importlib.import_module("__spark_entry__")


def test_entry_returns_rows(spark):
    df = _entry_mod().entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["category", "cnt"]


def test_queries_and_oracles_consistent():
    mod = _entry_mod()
    qs, os_ = mod.queries(), mod.oracle_sql()
    assert qs, "no queries registered"
    # every oracle key must have a query
    assert set(os_) <= set(qs)


def test_driver_sample_order_is_reverify_then_registration():
    """The driver samples the head of queries(): the _REVERIFY names lead
    in tuple order, every other name follows in registration order, and
    the reordering neither drops nor alters a query or an oracle."""
    from streamprocessing_spark.registry import _REGISTRY, _REVERIFY, all_specs

    order = list(all_specs())
    assert order[: len(_REVERIFY)] == list(_REVERIFY)
    assert order[len(_REVERIFY) :] == [n for n in _REGISTRY if n not in _REVERIFY]

    mod = _entry_mod()
    qs, os_ = mod.queries(), mod.oracle_sql()
    assert list(qs) == order and len(qs) == 394
    assert os_ == {n: s.oracle for n, s in _REGISTRY.items() if s.oracle is not None}
    assert list(os_) == [n for n in order if n in os_]


@pytest.mark.slow
def test_all_queries_run_at_smoke_scale(spark, sf_dir):
    mod = _entry_mod()
    for name, fn in mod.queries().items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name

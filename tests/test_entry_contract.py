"""Driver-contract smoke: entry() runs, every queries() entry returns a
DataFrame at sf0.001, and every oracle key has a matching query."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert "revenue" in df.columns


def test_oracle_keys_subset_of_queries():
    qs = entrymod.queries()
    extra = set(entrymod.oracle_sql()) - set(qs)
    assert not extra, f"oracle_sql keys without queries: {extra}"


def test_all_queries_run_at_sf0001(registry_frames):
    for name, df in registry_frames.items():
        n = df.count()
        assert n >= 0, name

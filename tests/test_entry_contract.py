"""Driver-contract tests for __spark_entry__.py: entry() smoke,
queries()/oracle_sql() key discipline, stable schemas.
"""

from __future__ import annotations

import pytest

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["id", "degree"]


def test_every_oracle_key_has_a_query():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every query carries an oracle: the two hyperplane-LSH paths and
    # IVF gained full replay oracles (the plane bank is seeded and the
    # registered IVF runs train_iters=0, where the centroids ARE the
    # seed vectors — nothing depends on a float-sum combine order, so
    # the twins re-derive buckets/assignments/ranks bit-identically)
    missing = set(qs) - set(oracles)
    assert missing == set()


@pytest.mark.slow
def test_every_batch_query_plan_analyzes(spark):
    """Build (not execute) EVERY batch query's plan at sf0.001: schema
    access forces Catalyst analysis, so an unresolved column / bad
    function signature fails here instead of in the driver's gate.
    Streaming queries are excluded — calling them runs a real stream job;
    they execute end-to-end in tests/test_streaming.py.
    """
    qs = entrymod.queries()
    failures = {}
    for name, fn in qs.items():
        if name.startswith("streaming_"):
            continue
        try:
            df = fn(spark, "/root/testdata/sf0.001")
            assert df.columns  # plan built, schema resolvable
        except Exception as exc:  # noqa: BLE001 - collect all, report once
            failures[name] = repr(exc)[:200]
    assert not failures, failures


def test_default_driver_memory_fits_the_machine(monkeypatch):
    # without SPARK_GRAFT_DRIVER_MEM the heap leaves a fixed headroom of
    # the physical RAM free and never exceeds the old fixed 48g
    from flink_graph_spark.plans import session

    def heap_gb(ram_gb):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gb * (1 << 30) // 4096}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        got = session._default_driver_memory()
        assert got.endswith("m")
        return int(got[:-1]) / 1024

    # large machines keep the 48g heap; 56 GB is the smallest that does
    assert heap_gb(1024) == heap_gb(64) == heap_gb(56) == 48
    # smaller machines: heap plus headroom never exceeds the RAM
    for ram_gb in (55, 32, 16, 12):
        assert heap_gb(ram_gb) <= ram_gb - 8
        assert heap_gb(ram_gb) > ram_gb - 9
    # tiny machines get the 1g floor, never a zero or negative heap
    assert heap_gb(4) == heap_gb(8) == 1

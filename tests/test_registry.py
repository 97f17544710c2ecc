"""Registry invariants: duplicate rejection, attribution, in-place reorder."""

from __future__ import annotations

import pytest

from pulsar_cdc_experiment_spark import registry
from pulsar_cdc_experiment_spark.registry import load_all_query_modules, register


def test_duplicate_registration_rejected_with_true_culprit():
    load_all_query_modules()
    with pytest.raises(ValueError) as e:
        register("cdc_op_decode")(lambda spark, sf_dir: None)
    # the error must blame the DEFINING module, not the registry module
    # (round-3 advice: wrapped.__module__ was never copied)
    assert "queries.cdc" in str(e.value)


def test_reorder_is_in_place_and_stratified():
    # an alias captured BEFORE load_all must see the interleaved order too
    alias = registry.QUERIES
    load_all_query_modules()
    assert alias is registry.QUERIES
    fams = [
        getattr(fn, "__family__", "?") for fn in list(registry.QUERIES.values())[:6]
    ]
    # any prefix of the registry covers distinct families (stratified sample)
    assert len(set(fams)) == len(fams), fams


def test_order_is_idempotent():
    # the driver and the test suite call load_all_query_modules many
    # times per process; the exposed order must not depend on how often
    load_all_query_modules()
    first = list(registry.QUERIES)
    load_all_query_modules()
    assert list(registry.QUERIES) == first


def test_every_oracle_key_is_a_registered_query():
    load_all_query_modules()
    missing = [n for n in registry.ORACLES if n not in registry.QUERIES]
    assert missing == []


def test_rows_only_rationales_point_at_real_coverage():
    """Round-14 verdict #1 (the rationale-rot guard): every rows-only
    rationale must cite coverage that EXISTS — a tests/ file that is on
    disk, or an oracle-backed sibling query that is registered. The r14
    text cited tests/test_sketch.py assertions that were never written;
    this pins the pointers."""
    import os
    import re

    load_all_query_modules()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for name, txt in registry.ROWS_ONLY_RATIONALE.items():
        files = re.findall(r"tests/\w+\.py", txt)
        for f in files:
            assert os.path.exists(os.path.join(root, f)), (name, f)
        words = set(re.findall(r"[a-z][a-z0-9_]+", txt))
        oracle_sibs = (words - {name}) & set(registry.ORACLES)
        assert files or oracle_sibs, (
            name,
            "rationale cites neither an existing tests/ file nor an "
            "oracle-backed sibling query",
        )


def test_hll_partial_merge_identity_and_accuracy(spark, sf_dir, duck):
    """The rows-only hll_partial_merge query's correctness claims: the
    daily-sketch union estimates EXACTLY what the direct whole-table
    sketch estimates (lossless merge identity), and both sit within 5%
    of the exact distinct count (Datasketches HLL at lgK=12)."""
    from pulsar_cdc_experiment_spark.registry import QUERIES, load_all_query_modules

    load_all_query_modules()
    row = QUERIES["hll_partial_merge"](spark, sf_dir).collect()[0]
    assert row["consistent"] is True
    assert row["est"] == row["direct_est"]
    exact = duck.sql("SELECT count(DISTINCT user_id) FROM events").fetchone()[0]
    assert abs(row["est"] - exact) <= max(1, 0.05 * exact)


def test_rows_only_tier_matches_registry_and_is_hidden_from_driver():
    """Round-14 policy (r13 verdict #1): the declared rows-only tier is
    exactly the set of oracle-less registered queries, every entry has a
    written rationale, and NONE of them leaks into the driver surface —
    __spark_entry__.queries() must expose only value-checked names so
    CORRECTNESS_r{N} can never carry a non-bug err row."""
    import __spark_entry__ as entry_mod

    load_all_query_modules()
    oracle_less = {n for n in registry.QUERIES if n not in registry.ORACLES}
    declared = registry.rows_only_queries()
    assert set(declared) == oracle_less
    assert all(len(v) > 20 for v in declared.values())

    exposed = entry_mod.queries()
    assert set(exposed).isdisjoint(oracle_less)
    # and the driver surface is exactly the oracle-backed registry
    assert set(exposed) == set(registry.ORACLES)
    # oracle map covers every exposed query (driver value-checks all)
    assert set(entry_mod.oracle_sql()) == set(exposed)


def test_rotation_lands_fresh_names():
    """The registry order is load-bearing for driver coverage — the
    driver hash-checks a PREFIX of the exposed registry, so that prefix
    must land enough never-driver-sampled names for the tail to shrink.
    Simulate exactly what the driver sees (the oracle-backed prefix-50
    of the REAL ordering) against the committed CORRECTNESS union and
    require min(10, never-sampled tail) first-time names: ≥10 while
    the tail has that many, and once fewer than 10 remain, every one
    of them — each committed sample shrinks the tail, and no ordering
    can put more never-sampled names in the prefix than exist.

    load_all_query_modules ranks names by committed sample history and
    places the never-sampled oracle-backed tail right after one pass
    over every family."""
    import glob
    import json
    import os

    from pulsar_cdc_experiment_spark.registry import (
        ORACLES,
        QUERIES,
        load_all_query_modules,
    )

    load_all_query_modules()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sampled: set[str] = set()
    for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        sampled |= set(json.load(open(p)).keys())
    assert sampled, "no committed CORRECTNESS artifacts found"
    exposed = [n for n in QUERIES if n in ORACLES]
    tail = [n for n in exposed if n not in sampled]
    fresh = [n for n in exposed[:50] if n not in sampled]
    assert len(fresh) >= min(10, len(tail)), (
        f"only {len(fresh)} of {len(tail)} never-sampled names in the "
        f"driver's prefix-50 ({fresh}) — check the sample-history order "
        "in registry.load_all_query_modules so the tail keeps shrinking"
    )

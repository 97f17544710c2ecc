"""Truncation-proofing of the bench artifact (round-8 verdict task 1).

The driver keeps only the LAST ~2000 chars of bench.py's stdout; r7 lost
its min-of-3 map to that window. These tests pin the contract that
prevents a recurrence: the compact final line fits the window whole for
the CURRENT headline set (with headroom), and tools/bench_series.py
recovers every series shape the committed artifacts actually contain —
the r8+ pair format, the r7 steady-only fragment, and the r6
front-truncated tail. Pure-python: no Spark session.
"""

from __future__ import annotations

import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(path, name):
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, path))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_compact_line_fits_tail_window_with_headroom():
    """A synthetic compact line for the CURRENT headline set must fit
    well under the driver's 2000-char tail — failing this test is the
    early warning to shed fields or split the artifact BEFORE a round's
    data is lost. Worst-case per-query values are 2-digit seconds
    (99.99 — 10x above the slowest entry ever recorded, 7.7 s); a query
    genuinely crossing 100 s would trip the shedding ladder at runtime,
    which is the backstop for that regime, and would be a perf
    regression worth a red test anyway."""
    bench = _load("bench.py", "bench_mod")
    aliases = {"dedup_minhash_lsh_fast": "dedup_minhash_lsh"}
    names = [aliases.get(n, n) for n in bench.HEADLINE] + [
        "cdc_enrich_plane"
    ]
    # round-13: the compact line carries fmt "min3" SINGLE values — the
    # pair format outgrew the tail at 48 headline entries; per-query
    # steady lives in the full (local-log) line only.
    # round-17: the 58-entry set outgrew the tail WITH the key_aliases
    # map aboard, so the compact line now pre-applies aliases to the
    # query keys and sheds the map (the full line keeps it)
    # round-18: the 61-entry set outgrew the tail WITH skew_join
    # aboard; the skew legs are now shed from the compact line too
    # (full line + BENCHSERIES.md keep them)
    # round-19: the 64-entry headline set + the new legs_bs pairs sit
    # near the wall — the guard now budgets against the REAL window
    # (2000 chars; r18's 1814-char line survived with 186 to spare) at
    # the runtime ladder's 1990 limit, with realistic value widths
    # (most entries are "x.xx"; the six lifecycle heavyweights are
    # "xx.xx"). A uniformly-pessimistic 99.99 synthetic would force the
    # ladder to shed legs_bs, which is the ladder's job — the SECOND
    # assertion pins that even then a parseable line under the window
    # comes out. The next headline growth spurt must SHRINK the map
    # (e.g. the array-form migration sketched in NOTES) instead of
    # nudging this budget again.
    # round-20 (r19 verdict #1): EVERY headline name — including the six
    # lifecycle heavyweights — must survive in the tail queries map; the
    # r19 "min3L" omission made the driver's PERF report the improved
    # heavyweights as dropped_from_bench. legs_bs is now FIRST in the
    # shedding ladder, so the realistic full-map line must fit the
    # window AFTER legs_bs sheds (it also lives in the FULL line).
    heavy = {
        "stream_mv_auto_compact", "stream_mv_maintain",
        "mv_join_mor_feed", "mv_mor_feed_capstone", "mv_join_maintain",
        "merge_upsert_dv",
    }
    compact = {
        "metric": "headline_total",
        "value": 999.999,
        "steady_value": 999.999,
        "unit": "sec",
        "sf": 0.1,
        "calib_sec": 9.999,
        "fmt": "min3",
        "queries": {
            # realistic mixed widths: heavyweights as 2-digit 1-decimal
            # seconds; half the rest as sub-second 2-decimal entries
            # (r18 observed 29/61), the other half 1-decimal seconds
            n: (
                12.3 if n in heavy
                else (0.14 if i % 2 == 0 else 9.9)
            )
            for i, n in enumerate(names)
        },
        "legs_bs": [[99.9, 99.9]] * 6,
    }
    out = json.loads(bench._compact_line(compact))
    assert len(json.dumps(out, separators=(",", ":"))) <= 1990, (
        "compact bench line over the window — shed fields or shrink "
        "the per-query map before the next round's artifact truncates"
    )
    for n in names:
        assert n in out["queries"], (
            f"{n} missing from the tail queries map — the driver's PERF "
            "series would report it dropped_from_bench"
        )
    # pessimistic regime: every query at 2-digit seconds — the runtime
    # ladder must still emit a parseable line under the window with the
    # full name set aboard
    worst = dict(compact)
    worst["queries"] = {n: 99.9 for n in names}
    out = json.loads(bench._compact_line(worst))
    assert len(json.dumps(out, separators=(",", ":"))) <= 1990
    assert "calib_sec" in out, "calib must be the last survivor"
    assert set(out["queries"]) == set(names)


def test_compact_line_carries_host_shape():
    """The compact line names the core count and the effective shuffle
    partition count the run measured with, while every headline query
    still fits; under pressure they shed before ``calib_sec`` and never
    displace a query."""
    bench = _load("bench.py", "bench_mod_host")
    names = [
        {"dedup_minhash_lsh_fast": "dedup_minhash_lsh"}.get(n, n)
        for n in bench.HEADLINE
    ] + ["cdc_enrich_plane"]
    compact = {
        "metric": "headline_total", "value": 99.999, "steady_value": 99.999,
        "unit": "sec", "sf": 0.1, "calib_sec": 0.999, "fmt": "min3",
        "queries": {
            n: 0.14 if i % 2 == 0 else 9.9 for i, n in enumerate(names)
        },
        "legs_bs": [[9.9, 9.9]] * 6,
        "cpus": 32,
        "shuffle_partitions": 200,
    }
    out = json.loads(bench._compact_line(compact))
    assert (out["cpus"], out["shuffle_partitions"]) == (32, 200)
    assert set(out["queries"]) == set(names)
    compact["queries"] = {n: 99.9 for n in names}
    compact["calib_sec"] = 12.345
    out = json.loads(bench._compact_line(compact))
    assert "calib_sec" in out and set(out["queries"]) == set(names)
    assert len(json.dumps(out, separators=(",", ":"))) <= 1990


def test_bench_series_expands_pair_format():
    bs = _load("tools/bench_series.py", "bench_series_mod")
    parsed = bs._expand_pairs({
        "fmt": "min3_steady_pairs",
        "queries": {"q1": [0.5, 0.7], "q2": [1.0, 1.2]},
        "steady_value": 1.9,
    })
    assert parsed["queries"] == {"q1": 0.5, "q2": 1.0}
    assert parsed["steady"] == {"q1": 0.7, "q2": 1.2}
    # non-pair blobs pass through untouched
    plain = {"queries": {"q1": 0.5}}
    assert bs._expand_pairs(plain) is plain


def test_bench_series_recovers_steady_only_tail():
    """The r7 shape: queries map truncated away, steady map intact —
    recovery must yield the steady series instead of dropping the round."""
    bs = _load("tools/bench_series.py", "bench_series_mod")
    tail = (
        '_pipeline": 0.934, "order_value_deciles": 0.724}, '
        '"steady": {"q1": 1.1, "q2": 2.2}, "steady_value": 3.3, '
        '"key_aliases": {"a": "b"}, "skew_join": {"plain": 3.0}, "sf": 0.1}\n'
    )
    rec = bs._recover_from_tail(tail)
    assert rec is not None
    assert rec["steady"] == {"q1": 1.1, "q2": 2.2}
    assert rec["steady_value"] == 3.3
    assert rec["skew_join"] == {"plain": 3.0}


def test_bench_series_loads_every_committed_round():
    """Every committed BENCH_r*.json must stay loadable — a regression
    here silently drops a column from BENCHSERIES.md."""
    import glob
    import re

    bs = _load("tools/bench_series.py", "bench_series_mod")
    rounds = bs.load_rounds()
    # companion artifacts (e.g. BENCH_r19_c8.json, the driver's 8-core
    # scaling run) match the glob but are not round series entries
    committed = sorted(
        int(m.group(1))
        for p in glob.glob(os.path.join(ROOT, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    )
    assert sorted(rounds) == committed
    # r7 contributes its steady series even though min-of-3 is lost
    if 7 in rounds:
        assert rounds[7].get("steady"), "r7 steady recovery regressed"


def test_compact_line_sheds_then_trims_then_fails_loudly():
    """_compact_line's degradation ladder: full line under the limit
    passes through; an over-limit line sheds skew/aliases/calib before
    touching the pair map; a pathologically large map trims to 1-decimal
    pairs; and if even that overflows, it raises instead of printing a
    line the driver's tail would truncate."""
    import pytest

    bench = _load("bench.py", "bench_mod2")

    def mk(n_queries):
        return {
            "metric": "headline_total", "value": 1.0, "steady_value": 1.0,
            "unit": "sec", "sf": 0.1, "calib_sec": 0.2,
            "fmt": "min3_steady_pairs",
            "key_aliases": {"a": "b"},
            "skew_join": {"plain": 1.0, "salted": 0.5},
            "queries": {f"query_name_{i:04d}": [12.34, 56.78] for i in range(n_queries)},
        }

    small = bench._compact_line(mk(10))
    assert len(small) <= 1990 and '"skew_join"' in small

    shed = json.loads(bench._compact_line(mk(58)))
    assert "skew_join" not in shed  # shed before touching the pairs
    assert shed["queries"]["query_name_0000"] == [12.34, 56.78]

    trimmed = json.loads(bench._compact_line(mk(60)))
    assert trimmed["queries"]["query_name_0000"] == [12.3, 56.8]

    with pytest.raises(RuntimeError, match="split the artifact"):
        bench._compact_line(mk(64))


def test_bench_series_expands_min3L_legs():
    """The r19 min3L form: heavyweights carried as positional
    [build, serve] pairs reconstruct into the queries series; a null
    slot (errored leg) keeps positions aligned and contributes no
    entry."""
    bs = _load("tools/bench_series.py", "bench_series_mod3")
    parsed = bs._expand_pairs({
        "fmt": "min3L",
        "queries": {"q1": 0.5},
        "legs_bs": [[9.0, 2.5], None, [4.1, 1.2], [3.0, 1.1],
                    [2.2, 1.0], [1.1, 0.4]],
    })
    assert parsed["queries"]["q1"] == 0.5
    assert parsed["queries"]["stream_mv_auto_compact"] == 11.5
    assert "stream_mv_maintain" not in parsed["queries"]  # errored leg
    assert parsed["queries"]["mv_join_mor_feed"] == 5.3
    assert parsed["legs"]["merge_upsert_dv"] == [1.1, 0.4]

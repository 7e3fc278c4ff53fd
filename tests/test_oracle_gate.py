"""Every registered query must hash-match its DuckDB oracle at sf0.001
(the driver runs the same gate at sf0.01 — SURVEY §5.2 item 1)."""

from __future__ import annotations

import pytest

from semantic_ann_in_data_lake_spark.plans import registry
from tests._compare import compare

_NAMES = sorted(registry.REGISTRY)

# full-suite wall-time guard (VERDICT r11 item 1): this suite is
# deselected by the default `-m "not slow"` run; run it with -m ""
pytestmark = pytest.mark.slow



@pytest.mark.parametrize("name", _NAMES)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    fn, sql = registry.REGISTRY[name]
    sdf = fn(spark, sf_dir)
    if sql is None:
        assert sdf.count() >= 0  # rows-only contract
        return
    problems = compare(sdf, duck, sql)
    assert not problems, f"{name}: {problems}"


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert {"precision", "recall", "f1", "ndcg_at_k"} <= set(df.columns)


def test_every_query_has_oracle_or_is_documented():
    missing = [n for n, (_, sql) in registry.REGISTRY.items() if sql is None]
    # rows-only entries must be the genuinely non-SQL-expressible ops:
    # approximate LSH, stubbed media decode, sequential synonym loop
    allowed = ("lsh", "ivf", "stream", "media", "synonym", "approx", "_ann", "_pq")
    assert all(any(tag in n for tag in allowed) for n in missing), missing


def test_driver_surface_is_fully_oracled():
    """The driver has no rows-only mode: any None-oracle name it samples
    becomes a permanent red `no_oracle` row. queries() must therefore
    expose only oracled entries (VERDICT r5 task 1)."""
    qs, oracles = registry.queries(), registry.oracle_sql()
    assert set(qs) == set(oracles)
    assert all(registry.REGISTRY[n][1] is not None for n in qs)
    # hidden entries stay runnable through REGISTRY for bench/pytest
    hidden = set(registry.REGISTRY) - set(qs)
    assert all(registry.REGISTRY[n][1] is None for n in hidden)


def test_gate_window_prefers_stalest_evidence():
    """The entry module's queries() ordering: red-retry, then debuts,
    then green names by ascending round of their last official row —
    the 50-name driver window re-validates the oldest evidence each
    round."""
    import __spark_entry__ as entrymod

    green_round, red_retry = entrymod._load_official_record()
    order = list(entrymod.queries())
    assert order == list(entrymod.oracle_sql())
    assert set(order) == set(registry.queries())
    ranks = []
    for n in order:
        if n in red_retry:
            ranks.append((0, 0))
        elif n not in green_round:
            ranks.append((1, 0))
        else:
            ranks.append((2, green_round[n]))
    assert ranks == sorted(ranks)


def test_official_record_loader_matches_files(tmp_path):
    """The gate state is DERIVED from the committed CORRECTNESS files
    when the entry module orders its window; pin the loader's
    semantics: last round wins, err==None is green, red-last names
    float to retry, unreadable files degrade to debut (never crash
    queries())."""
    import json

    import __spark_entry__ as entrymod

    d = tmp_path
    (d / "CORRECTNESS_r01.json").write_text(json.dumps({
        "a": {"err": None}, "b": {"err": None}, "c": {"err": "boom"},
        # err=None but a False match flag is a FAILURE (rounds 1-3
        # recorded such rows, e.g. deepjoin_eval r01) — must be red
        "d": {"err": None, "rows_match": True, "hash_match": False},
        # None flags (rows-only history) do not disqualify
        "e": {"err": None, "rows_match": None, "hash_match": None},
    }))
    (d / "CORRECTNESS_r02.json").write_text(json.dumps({
        "b": {"err": "no_oracle"}, "c": {"err": None},
    }))
    (d / "CORRECTNESS_r9.json").write_text("not json")

    green, red = entrymod._load_official_record(root=str(d))
    assert green == {"a": 1, "c": 2, "e": 1}
    assert red == frozenset({"b", "d"})
    # empty dir -> everything is a debut, nothing red
    green2, red2 = entrymod._load_official_record(root=str(d / "void"))
    assert green2 == {} and red2 == frozenset()

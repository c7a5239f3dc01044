"""Differential test: every registered query vs its DuckDB oracle.

This is the local replica of the driver's t2 correctness gate, run at
sf0.001 by default (fast); the harness script runs sf0.01/sf0.1 on
demand.
"""

from __future__ import annotations

import pytest

from bio_lakehouse_spark.suite import REGISTRY
from tests.oracle_harness import compare, run_oracle


# DuckDB-heavy oracle SQL (91 s for markov's unrolled absorbing-chain
# CTE even at sf0.001) — heavy tier; the Spark side stays covered by
# the driver's own oracle gate and the full-tier run every round.
_HEAVY_ORACLE = {"markov_attribution_removal"}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.heavy) if n in _HEAVY_ORACLE else n
        for n in sorted(REGISTRY)
    ],
)
def test_query_matches_oracle(name, spark, sf_dir):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_dir).toPandas()
    if spec.oracle is None:
        assert len(sdf) >= 0  # rows-only check, mirrors the driver
        return
    odf = run_oracle(spec.oracle, sf_dir)
    problems = compare(sdf, odf)
    assert not problems, f"{name}: {problems}"


def test_registry_entry_is_the_public_wrapper():
    """The registry keeps the function registered under a name and
    its doc; curation_pipeline_full must be the public wrapper, not
    the shared verdict helper it calls."""
    from bio_lakehouse_spark.suite import text_queries

    spec = REGISTRY["curation_pipeline_full"]
    assert spec.fn is text_queries.curation_pipeline_full
    assert spec.doc == text_queries.curation_pipeline_full.__doc__.strip()


def test_simhash64_halves_consistent(spark, sf_dir):
    """simhash64's HI half must equal simhash32 (same top-bit votes),
    and banded candidates must be a superset-exact match of the
    brute-force hamming<=3 pairs (pigeonhole recall 1)."""
    from bio_lakehouse_spark.operators.dedup import simhash32, simhash64
    from bio_lakehouse_spark.suite.registry import load

    docs = load(spark, sf_dir, "documents").limit(200)
    s32 = {r["doc_id"]: r["simhash"]
           for r in simhash32(docs, "doc_id", "text").collect()}
    s64 = {r["doc_id"]: (r["sim_hi"], r["sim_lo"])
           for r in simhash64(docs, "doc_id", "text").collect()}
    assert set(s32) == set(s64)
    for k in s32:
        assert s64[k][0] == s32[k], k
        assert 0 <= s64[k][1] < 2**32


def test_entry_sweep_ordering_tiers(tmp_path, monkeypatch):
    """__spark_entry__ sweep order: never-green first, then greens
    whose implementing module changed since their green round, then
    stable greens rotated oldest-first — and only a FULLY green row
    (rows+schema+hash) counts."""
    import importlib
    import json
    import os
    import sys
    import time

    sys.path.insert(0, "/root/repo")
    e = importlib.import_module("__spark_entry__")

    names = list(e.REGISTRY)
    a, b, c, d = names[0], names[1], names[2], names[3]
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "err": None, "spark_rows": 1, "oracle_rows": 1}
    hashfail = dict(green, hash_match=False)
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({a: green, b: green, c: hashfail})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({b: green})
    )
    # Make the correctness files NEWER than every module so no query
    # lands in the module-changed tier in this fixture.
    future = time.time() + 3600
    os.utime(tmp_path / "CORRECTNESS_r01.json", (future, future))
    os.utime(tmp_path / "CORRECTNESS_r02.json", (future, future))
    monkeypatch.setattr(e, "_ROOT", str(tmp_path))

    order = e._ordered_names()
    pos = {n: i for i, n in enumerate(order)}
    # c's hash-fail row is NOT green → stays in the never-green tier.
    assert pos[c] < pos[a] < pos[b]  # a green r1 rotates before b (r2)
    assert pos[d] < pos[a]  # d has no row at all → front tier

    # Now mark a's module as changed after r1 → a re-enters ahead of
    # the stable rotation (but behind never-green).
    mod_file = __import__("inspect").getfile(e.REGISTRY[a].fn)
    past = time.time() - 3600
    os.utime(tmp_path / "CORRECTNESS_r01.json", (past, past))
    os.utime(tmp_path / "CORRECTNESS_r02.json", (future, future))
    order2 = e._ordered_names()
    pos2 = {n: i for i, n in enumerate(order2)}
    assert pos2[d] < pos2[a] < pos2[b]


def test_compare_flags_all_numeric_family_splits():
    """The driver hashes value reprs, so ANY bool/int/float family
    split (True vs 1, 5 vs 5.0) hash-mismatches even with identical
    values — compare() must flag all of them, and must NOT flag
    matching families."""
    import pandas as pd

    base = pd.DataFrame({"k": [1, 2]})

    def with_col(vals):
        d = base.copy()
        d["v"] = vals
        return d

    # int vs float
    assert any(
        "dtype family" in p
        for p in compare(with_col([1, 2]), with_col([1.0, 2.0]))
    )
    # bool vs int (the r5 ADVICE gap)
    assert any(
        "dtype family" in p
        for p in compare(with_col([True, False]), with_col([1, 0]))
    )
    # bool vs float
    assert any(
        "dtype family" in p
        for p in compare(with_col([True, False]), with_col([1.0, 0.0]))
    )
    # same family, same values: clean
    assert compare(with_col([True, False]), with_col([True, False])) == []
    assert compare(with_col([3, 4]), with_col([3, 4])) == []

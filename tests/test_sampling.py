"""Property tests for deterministic hash-based sampling
(operators/sampling): the contracts that make a sample usable as a
dataset split — reproducibility, partitioning-invariance, nesting,
and the advertised statistical bias.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bio_lakehouse_spark.operators.sampling import (
    assign_split,
    balanced_downsample,
    hash_unit,
    sample_by_hash,
    weighted_sample,
)
from bio_lakehouse_spark.suite.registry import load


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load(spark, sf_dir, "documents").cache()


def test_split_invariant_under_repartition(docs):
    """A row's split label is a pure function of its key: reshuffling
    the input (what df.sample does NOT survive) changes nothing."""
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = assign_split(docs, F.col("doc_id"), splits)
    b = assign_split(docs.repartition(7, "lang"), F.col("doc_id"), splits)
    mism = (
        a.select("doc_id", "split")
        .join(b.select("doc_id", F.col("split").alias("s2")), "doc_id")
        .filter(F.col("split") != F.col("s2"))
        .count()
    )
    assert mism == 0


def test_split_fractions_and_exhaustive(docs):
    rows = dict(
        assign_split(docs, F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1})
        .groupBy("split")
        .count()
        .collect()
    )
    n = docs.count()
    assert sum(rows.values()) == n  # every row gets exactly one label
    # 500 Bernoulli(0.8) draws: ±5σ ≈ ±45
    assert abs(rows["train"] - 0.8 * n) < 50
    assert rows["val"] > 0 and rows["test"] > 0


def test_split_fractions_must_sum_to_one(docs):
    with pytest.raises(ValueError):
        assign_split(docs, F.col("doc_id"), {"train": 0.5, "val": 0.1})


def test_threshold_samples_nest(docs):
    """Hash-threshold samples are nested: the 10% sample is a strict
    subset of the 20% sample — lets a pipeline scale a sample up
    without re-drawing (impossible with seeded RNG sampling)."""
    small = sample_by_hash(docs, F.col("doc_id"), 0.1)
    big = sample_by_hash(docs, F.col("doc_id"), 0.2)
    outside = small.join(big.select("doc_id"), "doc_id", "left_anti").count()
    assert outside == 0
    assert small.count() < big.count()


def test_balanced_downsample_equalizes_classes(docs):
    """Every language's expected sampled size is the min class size
    (71 at sf0.001); verify all classes land within 5σ of it."""
    counts = dict(
        balanced_downsample(docs, F.col("doc_id"), "lang")
        .groupBy("lang")
        .count()
        .collect()
    )
    totals = dict(docs.groupBy("lang").count().collect())
    target = min(totals.values())
    assert set(counts) == set(totals)
    for lang, c in counts.items():
        # binomial sd ≤ sqrt(target); 5*sqrt(71) ≈ 42
        assert abs(c - target) <= 45, (lang, c, target)


def test_weighted_sample_prefers_heavy_rows(docs):
    """Inclusion ∝ n_chars: the sampled mean length must exceed the
    corpus mean, and membership must be run-to-run identical."""
    s1 = weighted_sample(docs, F.col("doc_id"), F.col("n_chars"), k=50)
    s2 = weighted_sample(
        docs.repartition(5), F.col("doc_id"), F.col("n_chars"), k=50
    )
    ids1 = {r.doc_id for r in s1.select("doc_id").collect()}
    ids2 = {r.doc_id for r in s2.select("doc_id").collect()}
    assert ids1 == ids2 and len(ids1) == 50
    sampled_avg = s1.agg(F.avg("n_chars")).first()[0]
    corpus_avg = docs.agg(F.avg("n_chars")).first()[0]
    assert sampled_avg > corpus_avg


def test_weighted_sample_excludes_nonpositive_weights(docs):
    """r10: a weight ≤ 0 is a negative/zero exponent — u^(1/w) > 1
    would BEAT every legitimate score and the impossible rows would
    deterministically fill the sample. They must be excluded, per the
    E&S definition (inclusion ∝ weight)."""
    rigged = docs.withColumn(
        "w",
        F.when(F.col("doc_id") % 7 == 0, F.lit(-5.0))
        .when(F.col("doc_id") % 11 == 0, F.lit(0.0))
        .otherwise(F.col("n_chars").cast("double")),
    )
    picked = weighted_sample(rigged, F.col("doc_id"), F.col("w"), k=50)
    rows = picked.select("doc_id", "w").collect()
    assert len(rows) == 50
    assert all(r.w > 0 for r in rows)


def test_hash_unit_is_uniform(docs):
    """Mean of hash_unit over 500 keys ≈ 0.5 (±5σ of U[0,1) mean)."""
    m = docs.select(hash_unit(F.col("doc_id")).alias("u")).agg(
        F.avg("u")
    ).first()[0]
    assert abs(m - 0.5) < 5 * (1 / 12) ** 0.5 / 500**0.5


# Chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21.
CHAIN_CLIQUE_PAIR = [
    (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)
]


def test_connected_components_chain_and_clique(spark):
    """Chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21:
    labels converge to min-id per component regardless of shape."""
    from bio_lakehouse_spark.operators.graph import connected_components

    edges = spark.createDataFrame(CHAIN_CLIQUE_PAIR, "src long, dst long")
    got = {
        r.node: r.component
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_stops_on_observed_count(spark, count_jobs):
    """The chain needs 3 label-moving rounds; the 4th changes nothing,
    and its checkpoint's observed changed-count (no extra job) stops
    the loop, so max_iter=20 runs exactly the jobs of max_iter=4."""
    from bio_lakehouse_spark.operators.graph import connected_components

    edges = spark.createDataFrame(CHAIN_CLIQUE_PAIR, "src long, dst long")
    early = {
        r.node: r.component
        for r in connected_components(edges, max_iter=2).collect()
    }
    assert early[4] == 2  # round 3 still had a label to move

    def jobs(max_iter):
        return count_jobs(
            lambda: connected_components(edges, max_iter=max_iter)
        )

    j3, j4, j20 = jobs(3), jobs(4), jobs(20)
    assert j20 == j4 > j3
    assert j4 - j3 <= 6


def test_temperature_mixture_flattens_sources(docs):
    """alpha=0.5 flattening: acceptance rate is DEcreasing in source
    size (rare sources keep more), all rates ≤ 1, expected total ≈
    corpus size, and membership is deterministic across calls."""
    from bio_lakehouse_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    s1 = temperature_mixture_sample(docs, F.col("doc_id"), "source", alpha=0.5)
    s2 = temperature_mixture_sample(docs, F.col("doc_id"), "source", alpha=0.5)
    ids1 = {r.doc_id for r in s1.select("doc_id").collect()}
    ids2 = {r.doc_id for r in s2.select("doc_id").collect()}
    assert ids1 == ids2 and ids1

    rates = {
        r["source"]: (r["mix_rate"], r["n"])
        for r in s1.groupBy("source")
        .agg(F.first("mix_rate").alias("mix_rate"))
        .join(
            docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")),
            "source",
        )
        .collect()
    }
    by_size = sorted(rates.values(), key=lambda t: t[1])
    for (r_small, n_small), (r_big, n_big) in zip(by_size, by_size[1:]):
        assert r_small <= 1.0 + 1e-12 and r_big <= 1.0 + 1e-12
        if n_small < n_big:
            assert r_small >= r_big  # flattening: rare keeps more
    # expected sample size equals the corpus size (target default)
    expected = sum(r * n for r, n in rates.values())
    total = docs.count()
    assert abs(expected - total) / total < 0.05


def test_unimax_water_filling_matches_iterative_loop(spark):
    """unimax_quotas' closed-form level must equal UniMax's iterative
    allocate-then-redistribute loop (Chung et al. 2023, Alg. 1) on
    arbitrary stratum sizes, including all-saturated and none-
    saturated regimes."""
    import pandas as pd

    from bio_lakehouse_spark.operators.sampling import unimax_quotas

    def iterative(sizes, budget_frac, max_epochs):
        total = sum(sizes.values())
        budget = budget_frac * total
        caps = {k: max_epochs * v for k, v in sizes.items()}
        quotas = {}
        remaining = dict(caps)
        while remaining:
            share = budget / len(remaining)
            sat = {k: c for k, c in remaining.items() if c <= share}
            if not sat:
                for k in remaining:
                    quotas[k] = share
                break
            for k, c in sat.items():
                quotas[k] = c
                budget -= c
                del remaining[k]
        return quotas

    cases = [
        {"a": 100.0, "b": 1000.0, "c": 5000.0, "d": 50.0},
        {"a": 10.0, "b": 10.0, "c": 10.0},        # symmetric
        {"a": 1.0, "b": 2.0, "c": 3000.0},        # extreme skew
    ]
    for sizes in cases:
        for bf, me in [(0.3, 0.35), (0.9, 0.5), (0.2, 5.0)]:
            pdf = pd.DataFrame(
                {"s": list(sizes), "n": list(sizes.values())}
            )
            df = spark.createDataFrame(pdf)
            got = {
                r["s"]: r["quota"]
                for r in unimax_quotas(
                    df, "s", "n", budget_frac=bf, max_epochs=me
                ).collect()
            }
            want = iterative(sizes, bf, me)
            assert got.keys() == want.keys()
            for k in want:
                assert abs(got[k] - want[k]) < 1e-9 * max(1.0, want[k]), (
                    sizes, bf, me, k, got[k], want[k])

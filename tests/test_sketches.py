"""Sketch tier: distinct-count certificates, exact heavy hitters via
sketch-pruned two-pass, quantile-sketch certificates, Bloom join pruning.

Every operator's contract is checked against a brute-force pandas
computation on deterministic generated data (seeded), mirroring the
reference's generator-vs-pandas strategy (SURVEY.md §5).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from catabra_pandas_spark.pipeline.sketches import (
    approx_distinct, bloom_filter_words, bloom_prejoin, distinct_certificate,
    heavy_hitters, quantile_certificate, quantile_sketch)
from tests.conftest import to_sdf


@pytest.fixture(scope="module")
def skewed(spark):
    rng = np.random.RandomState(7)
    # zipf-ish: a few hot values, long tail
    vals = np.concatenate([
        np.repeat(["hot_a", "hot_b", "hot_c"], [3000, 2000, 1200]),
        rng.randint(0, 20000, 20000).astype(str),
    ])
    rng.shuffle(vals)
    pdf = pd.DataFrame({"g": [v[0] for v in vals], "val": vals})
    return to_sdf(spark, pdf), pdf


def test_distinct_certificate_exact_and_bounded(spark, skewed):
    sdf, pdf = skewed
    out = distinct_certificate(sdf, "g", "val").toPandas()
    exact = pdf.groupby("g")["val"].nunique()
    for r in out.itertuples():
        assert r.exact_nd == exact[r.g]
        assert r.within_bound


def test_approx_distinct_close(spark, skewed):
    sdf, pdf = skewed
    out = approx_distinct(sdf, None, "val").toPandas()
    exact = pdf["val"].nunique()
    assert abs(int(out.approx_nd[0]) - exact) <= 0.3 * exact


@pytest.mark.parametrize("capacity", [None, 500])
def test_heavy_hitters_exact(spark, skewed, capacity):
    sdf, pdf = skewed
    s = 0.03
    out = heavy_hitters(sdf.select("val"), "val", min_share=s,
                        capacity=capacity).toPandas()
    counts = pdf["val"].value_counts()
    expected = counts[counts >= np.ceil(s * len(pdf))]
    assert sorted(out.val) == sorted(expected.index)
    got = dict(zip(out.val, out.cnt))
    for v, c in expected.items():
        assert got[v] == c


def test_heavy_hitters_capacity_validation(spark, skewed):
    sdf, _ = skewed
    with pytest.raises(ValueError, match="capacity"):
        heavy_hitters(sdf, "val", min_share=0.01, capacity=50)


def test_quantile_certificate(spark):
    rng = np.random.RandomState(11)
    pdf = pd.DataFrame({"g": rng.randint(0, 3, 5000),
                        "x": rng.lognormal(0, 1, 5000)})
    sdf = to_sdf(spark, pdf)
    probs = [0.1, 0.5, 0.9]
    out = quantile_certificate(sdf, "g", "x", probs, accuracy=1000).toPandas()
    for r in out.itertuples():
        grp = pdf[pdf.g == r.g]["x"]
        assert r.within_bound
        np.testing.assert_allclose(r.q_10, grp.quantile(0.1), rtol=1e-9)
        np.testing.assert_allclose(r.q_50, grp.quantile(0.5), rtol=1e-9)
        np.testing.assert_allclose(r.q_90, grp.quantile(0.9), rtol=1e-9)
    qs = quantile_sketch(sdf, "g", "x", probs).toPandas()
    assert all(len(a) == 3 for a in qs.quantiles)


def test_bloom_prejoin_exact_and_pruning(spark):
    rng = np.random.RandomState(23)
    probe = pd.DataFrame({"k": rng.randint(0, 100000, 50000), "x": 1.0})
    build = pd.DataFrame({"bk": np.arange(0, 100000, 137)})
    sp, sb = to_sdf(spark, probe), to_sdf(spark, build)
    out = bloom_prejoin(sp, sb, "k", "bk").toPandas()
    expected = probe[probe.k.isin(set(build.bk))]
    assert len(out) == len(expected)
    assert sorted(out.k) == sorted(expected.k)
    # the filter itself must prune hard: number of SET bits bounds the
    # false-positive rate; with 2^20 bits for 730 keys it is ~0
    words = bloom_filter_words(sb, "bk").toPandas()
    set_bits = sum(bin(int(w) & (2**64 - 1)).count("1") for w in words.word)
    assert set_bits <= 5 * len(build)


def test_bloom_prejoin_inner(spark):
    probe = pd.DataFrame({"k": [1, 2, 3, 4, 5, 6], "x": list("abcdef")})
    build = pd.DataFrame({"bk": [2, 4, 99], "y": [20, 40, 990]})
    out = bloom_prejoin(to_sdf(spark, probe), to_sdf(spark, build),
                        "k", "bk", how="inner").toPandas()
    assert sorted(zip(out.k, out.y)) == [(2, 20), (4, 40)]


# --- hypothesis property tier ------------------------------------------

from hypothesis import given, settings, strategies as st


@settings(max_examples=8, deadline=None)
@given(seed=st.integers(min_value=0, max_value=2**31 - 1),
       min_share=st.sampled_from([0.02, 0.05, 0.10]),
       cap_mult=st.sampled_from([None, 1.2, 3.0]),
       zipf_a=st.sampled_from([1.3, 2.0, 3.5]))
def test_heavy_hitters_property(spark, seed, min_share, cap_mult, zipf_a):
    """Exact frequent items on random Zipf draws x random thresholds x a
    Misra-Gries capacity sitting just above the 1/min_share validity
    bound (maximal undercount — the adversarial corner of the
    no-false-negative proof).  Must equal the pandas value_counts
    threshold scan exactly, values AND counts."""
    rng = np.random.default_rng(seed)
    vals = np.minimum(rng.zipf(zipf_a, 2000), 500).astype(str)
    pdf = pd.DataFrame({"val": vals})
    capacity = None if cap_mult is None else int(cap_mult / min_share) + 1
    out = heavy_hitters(to_sdf(spark, pdf), "val", min_share=min_share,
                        capacity=capacity).toPandas()
    counts = pdf["val"].value_counts()
    expected = counts[counts >= np.ceil(min_share * len(pdf))]
    assert sorted(out.val) == sorted(expected.index)
    got = dict(zip(out.val, out.cnt))
    for v, c in expected.items():
        assert got[v] == c, (v, got[v], c)


@settings(max_examples=8, deadline=None)
@given(seed=st.integers(min_value=0, max_value=2**31 - 1),
       dist=st.sampled_from(["lognormal", "uniform", "ints"]),
       accuracy=st.sampled_from([200, 1000, 10000]))
def test_quantile_certificate_property(spark, seed, dist, accuracy):
    """The GK rank-error certificate must hold on random distributions
    (heavy-tailed, flat, heavily-tied integers) at every accuracy —
    within_bound true for all groups, exact quantiles matching pandas."""
    rng = np.random.default_rng(seed)
    n = 3000
    if dist == "lognormal":
        x = rng.lognormal(0, 1, n)
    elif dist == "uniform":
        x = rng.uniform(-5, 5, n)
    else:
        x = rng.integers(0, 10, n).astype(float)  # massive ties
    pdf = pd.DataFrame({"g": rng.integers(0, 3, n), "x": x})
    probs = [0.05, 0.5, 0.95]
    out = quantile_certificate(to_sdf(spark, pdf), "g", "x", probs,
                               accuracy=accuracy).toPandas()
    assert len(out) == pdf.g.nunique()
    for r in out.itertuples():
        grp = pdf[pdf.g == r.g]["x"]
        assert r.within_bound, (r.g, dist, accuracy)
        np.testing.assert_allclose(r.q_05, grp.quantile(0.05), rtol=1e-9)
        np.testing.assert_allclose(r.q_50, grp.quantile(0.5), rtol=1e-9)
        np.testing.assert_allclose(r.q_95, grp.quantile(0.95), rtol=1e-9)


def test_quantile_certificate_rank_equals_agg(spark):
    """The distributed-rank exact side must be BIT-identical to the
    percentile() aggregate (same interpolation formula), across grouped
    data with heavy ties, null values, a null group key, an all-null
    group, and the keyless case."""
    rng = np.random.RandomState(31)
    pdf = pd.DataFrame({
        "g": rng.choice(["a", "b", "c", None], 4000),
        "x": np.where(rng.rand(4000) < 0.1, np.nan,
                      np.round(rng.lognormal(0, 1, 4000), 2)),
    })
    # one group whose values are ALL null
    pdf = pd.concat([pdf, pd.DataFrame({"g": ["z"] * 5, "x": [np.nan] * 5})],
                    ignore_index=True)
    sdf = to_sdf(spark, pdf)
    probs = [0.1, 0.5, 0.9]
    kw = dict(probs=probs, accuracy=1000)
    a = (quantile_certificate(sdf, "g", "x", exact_strategy="agg", **kw)
         .toPandas().sort_values("g", na_position="last").reset_index(drop=True))
    r = (quantile_certificate(sdf, "g", "x", exact_strategy="rank", **kw)
         .toPandas().sort_values("g", na_position="last").reset_index(drop=True))
    assert list(a.columns) == list(r.columns)
    assert len(a) == len(r)
    for c in a.columns:
        av, rv = a[c].tolist(), r[c].tolist()
        for x, y in zip(av, rv):
            assert (x is None and y is None) or \
                   (isinstance(x, float) and isinstance(y, float)
                    and np.isnan(x) and np.isnan(y)) or x == y, (c, x, y)
    # keyless
    ka = quantile_certificate(sdf, None, "x", exact_strategy="agg", **kw).collect()
    kr = quantile_certificate(sdf, None, "x", exact_strategy="rank", **kw).collect()
    assert [tuple(row) for row in ka] == [tuple(row) for row in kr]
    # auto picks agg here (4k rows) and stays equal
    au = quantile_certificate(sdf, None, "x", **kw).collect()
    assert [tuple(row) for row in au] == [tuple(row) for row in ka]


def test_heavy_hitters_long_values_above_2_53(spark):
    """Candidate values must keep their native dtype through the pass-1
    mapper: a mixed candidates+marker frame coerces int64 -> float64 and
    silently corrupts values above 2^53, so true heavy hitters with
    64-bit hash/id values would miss the pass-2 semi-join (ADVICE r13).
    A null in the input column does the same to a pandas batch, so the
    input also holds nulls; they count toward N but are never reported."""
    hot = 2**62 + 1          # not float64-representable
    hot2 = 2**62 + 3         # rounds to the SAME float64 as hot
    vals = []
    for i, v in enumerate([hot] * 40 + [hot2] * 40 + list(range(20))):
        vals += [v, None] if i % 5 == 4 else [v]  # nulls in every batch
    sdf = spark.createDataFrame(
        [(None if v is None else int(v),) for v in vals], "val long")
    out = heavy_hitters(sdf, "val", min_share=0.2).toPandas()
    got = {int(v): int(c) for v, c in zip(out.val, out.cnt)}
    assert got == {hot: 40, hot2: 40}


def test_quantile_rank_seq_reads_checkpointed_lineage(spark):
    """The rank path's __seq__ (lower 33 bits of
    monotonically_increasing_id) is only meaningful because the eager
    localCheckpoint pins the sampled range boundaries and physical row
    order BEFORE any seq-consuming job runs (VERDICT r13 item 4).  Pin
    the invariant: the returned plan must read __seq__ from the
    checkpointed RDD scan — monotonically_increasing_id must never
    appear in a consumer's physical plan (it would re-evaluate per job
    over a re-sampled range partitioning)."""
    pdf = pd.DataFrame({"g": ["a", "b"] * 500,
                        "x": np.arange(1000, dtype=float)})
    out = quantile_certificate(to_sdf(spark, pdf), "g", "x", [0.5],
                               exact_strategy="rank")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    assert "monotonically_increasing_id" not in plan
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan

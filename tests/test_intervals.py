from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from catabra_pandas_spark import combine_intervals, group_intervals, grouped_mode
from .conftest import assert_pdf_equal, axis_as, to_sdf


def _rand_intervals(seed, n=150, n_groups=6, zero_frac=0.3):
    rng = np.random.default_rng(seed)
    start = rng.uniform(0, 100, n).round(1)
    length = rng.uniform(0, 10, n).round(1)
    length[rng.random(n) < zero_frac] = 0.0
    return pd.DataFrame({
        "g": rng.integers(0, n_groups, n),
        "start": start,
        "stop": start + length,
        "attr": rng.choice(["a", "b", "c"], n),
    })


def _brute_group_intervals(pdf, distance, inclusive):
    """Reflexive-transitive closure by union-find per group."""
    out = np.full(len(pdf), -1)
    for g, sub in pdf.groupby("g"):
        idx = sub.index.to_numpy()
        parent = {i: i for i in idx}

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for i in idx:
            for j in idx:
                if i < j:
                    d = max(pdf.start[j], pdf.start[i]) - min(pdf.stop[i], pdf.stop[j])
                    d = max(d, 0.0)
                    close = d <= distance if inclusive else d < distance
                    if close:
                        parent[find(i)] = find(j)
        roots = {}
        # number classes by smallest start within group
        order = sub.sort_values(["start", "stop"]).index
        for i in order:
            r = find(i)
            if r not in roots:
                roots[r] = len(roots)
        for i in idx:
            out[pdf.index.get_loc(i)] = roots[find(i)]
    return out


@pytest.mark.parametrize("seed,distance,inclusive", [(0, 0.0, True), (1, 2.0, True), (2, 2.0, False)])
def test_group_intervals(spark, seed, distance, inclusive):
    pdf = _rand_intervals(seed)
    sdf = to_sdf(spark, pdf)
    out = group_intervals(sdf, group_by="g", start_col="start", stop_col="stop",
                          distance=distance, inclusive=inclusive).toPandas()
    exp = pdf.copy()
    exp["interval_group"] = _brute_group_intervals(pdf, distance, inclusive)
    assert_pdf_equal(out, exp, sort_by=["g", "start", "stop", "attr"])


def _brute_combine(pdf, group_cols, n_min, n_max, attr_cols=()):
    """Sample coverage on a fine grid of all endpoints."""
    res = []
    for g, sub in pdf.groupby(list(group_cols)):
        if not isinstance(g, tuple):
            g = (g,)
        if attr_cols:
            ivls = sub.drop_duplicates()  # brute handled by sweep over distinct attr unions
        pts = np.unique(np.concatenate([sub.start.values, sub.stop.values]))
        # positive-length segments between consecutive event points;
        # zero-length segments are ignored (reference semantics)
        segs = [(pts[i], pts[i + 1]) for i in range(len(pts) - 1)]
        merged = []
        for a, b in segs:
            mid = (a + b) / 2
            if attr_cols:
                cov = sub.loc[(sub.start <= mid) & (sub.stop >= mid), list(attr_cols)].drop_duplicates().shape[0]
            else:
                cov = ((sub.start <= mid) & (sub.stop >= mid)).sum()
            ok = cov >= n_min and (n_max is None or cov <= n_max)
            if ok:
                if merged and merged[-1][1] >= a:
                    merged[-1] = (merged[-1][0], max(merged[-1][1], b))
                else:
                    merged.append((a, b))
        for a, b in merged:
            res.append(g + (a, b))
    return pd.DataFrame(res, columns=list(group_cols) + ["start", "stop"])


@pytest.mark.parametrize("seed,n_min,n_max", [(0, 1, None), (1, 2, None), (2, 0, 0), (3, 2, 3)])
def test_combine_intervals(spark, seed, n_min, n_max):
    pdf = _rand_intervals(seed, n=60)
    sdf = to_sdf(spark, pdf)
    out = combine_intervals(sdf, start_col="start", stop_col="stop", group_by="g",
                            n_min=n_min, n_max=n_max).toPandas()
    exp = _brute_combine(pdf, ["g"], n_min, n_max)
    assert_pdf_equal(out, exp, sort_by=["g", "start", "stop"])


def test_combine_intervals_attrs(spark):
    pdf = _rand_intervals(5, n=60)
    sdf = to_sdf(spark, pdf)
    out = combine_intervals(sdf, start_col="start", stop_col="stop", group_by="g",
                            attr_cols=["attr"], n_min=2).toPandas()
    exp = _brute_combine(pdf, ["g"], 2, None, attr_cols=["attr"])
    assert_pdf_equal(out, exp, sort_by=["g", "start", "stop"])


@pytest.mark.parametrize("seed,distance,inclusive", [(3, 0.0, True), (4, 1.5, False)])
def test_group_intervals_keyless_chunked(spark, seed, distance, inclusive):
    """The keyless path (distributed two-pass chunked merge) must equal the
    grouped single-window path run with a constant key.  600 rows over a
    wide value range forces multiple quantile chunks, including islands
    that span chunk boundaries."""
    pdf = _rand_intervals(seed, n=600, n_groups=1).assign(g=0)
    # a few giant intervals that swallow many chunks (the carry cascade)
    pdf.loc[:2, "stop"] = pdf.loc[:2, "start"] + 40.0
    sdf = to_sdf(spark, pdf)
    keyless = group_intervals(sdf, start_col="start", stop_col="stop",
                              distance=distance, inclusive=inclusive).toPandas()
    grouped = group_intervals(sdf, group_by="g", start_col="start", stop_col="stop",
                              distance=distance, inclusive=inclusive).toPandas()
    assert_pdf_equal(keyless, grouped, sort_by=["start", "stop", "attr"])


@pytest.mark.parametrize("n_min,n_max,kind", [
    pytest.param(1, None, None, id="1-None"),
    pytest.param(2, None, None, id="2-None"),
    pytest.param(0, 0, None, id="0-0"),
    pytest.param(2, 3, None, id="2-3"),
    pytest.param(2, 3, "date", id="date"),
    pytest.param(2, 3, "daytime", id="daytime"),
    pytest.param(2, 3, "string", id="string"),
])
def test_combine_intervals_keyless_chunked(spark, n_min, n_max, kind):
    """Keyless coverage sweep (chunked) == grouped sweep with constant key:
    running coverage, boundary-spanning segments, and islands continuing
    across chunks must all stitch correctly.  The ``kind`` cases re-type
    the endpoints of a smaller input as dates, day-time intervals or
    strings: the keyless sweep range-chunks by the axis' order view
    (several chunks for date and interval axes); strings have no such
    view and run as one chunk, in lexicographic order ("10.5" < "9.5")."""
    pdf = _rand_intervals(11, n=60 if kind else 600, n_groups=1).assign(g=0)
    pdf.loc[:2, "stop"] = pdf.loc[:2, "start"] + 40.0
    sdf = to_sdf(spark, pdf)
    if kind:
        sdf = axis_as(sdf, ["start", "stop"], kind)
    keyless = combine_intervals(sdf, start_col="start", stop_col="stop",
                                n_min=n_min, n_max=n_max).toPandas()
    grouped = combine_intervals(sdf, start_col="start", stop_col="stop",
                                group_by="g", n_min=n_min, n_max=n_max
                                ).toPandas().drop(columns=["g"])
    if kind:
        assert len(grouped) > 5
    assert_pdf_equal(keyless, grouped, sort_by=["start", "stop"])


def test_group_intervals_keyless_skewed_and_nulls(spark):
    """Chunk assignment must survive heavy duplicate starts (quantile cuts
    collapse) and null starts (pinned to the first chunk, like the global
    ascending-nulls-first order)."""
    rng = np.random.default_rng(41)
    pdf = pd.DataFrame({
        "start": rng.choice([10.0, 10.0, 10.0, 50.0, 90.0], 400),
        "g": 0,
    })
    pdf["stop"] = pdf["start"] + rng.uniform(0, 5, 400).round(1)
    pdf.loc[:5, "start"] = np.nan
    sdf = to_sdf(spark, pdf)
    keyless = group_intervals(sdf, start_col="start", stop_col="stop",
                              distance=1.0).toPandas()
    grouped = group_intervals(sdf, group_by="g", start_col="start",
                              stop_col="stop", distance=1.0).toPandas()
    assert_pdf_equal(keyless, grouped, sort_by=["start", "stop"])


def test_grouped_mode(spark):
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "g": rng.integers(0, 8, 300),
        "v": rng.choice(["x", "y", "z", None], 300, p=[0.4, 0.3, 0.2, 0.1]),
    })
    pdf.loc[pdf.g == 0, "v"] = None  # all-null group
    sdf = to_sdf(spark, pdf)
    out = grouped_mode(sdf, group_by="g", column="v").toPandas()

    rows = []
    for g, sub in pdf.groupby("g"):
        vc = sub["v"].dropna().value_counts()
        if len(vc) == 0:
            rows.append((g, None, 0))
        else:
            top = vc.max()
            mode = sorted(vc[vc == top].index)[0]
            rows.append((g, mode, int(top)))
    exp = pd.DataFrame(rows, columns=["g", "mode", "count"])
    assert_pdf_equal(out, exp, sort_by=["g"])


def test_grouped_mode_dropna_false(spark):
    """dropna=False: null competes on frequency, loses ties (nulls-last)."""
    pdf = pd.DataFrame({
        "g": [1, 1, 1, 2, 2, 2, 2, 3, 3],
        "v": ["x", None, None, "y", "y", None, None, None, "z"],
    })
    sdf = to_sdf(spark, pdf)
    out = grouped_mode(sdf, group_by="g", column="v",
                       dropna=False).toPandas().sort_values("g")
    # g=1: null wins 2 > 1; g=2: tie 2-2 -> non-null 'y'; g=3: tie 1-1 -> 'z'
    assert out["mode"].tolist() == [None, "y", "z"]
    assert out["count"].tolist() == [2, 2, 1]

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from catabra_pandas_spark import find_containing_interval, merge_intervals
from .conftest import assert_pdf_equal, axis_as, to_sdf


def _make_sides(seed, n_left=300, n_right=120, n_groups=12):
    """FIXTURES.md F4: ~10% inverted (empty) intervals, some NaN endpoints."""
    rng = np.random.default_rng(seed)
    left = pd.DataFrame({
        "group": rng.integers(0, n_groups, n_left),
        "start": rng.uniform(0, 100, n_left).round(1),
        "idx": np.arange(n_left),
    })
    left["stop"] = (left["start"] + rng.uniform(0, 15, n_left).round(1))
    inv = rng.random(n_left) < 0.1
    left.loc[inv, ["start", "stop"]] = left.loc[inv, ["stop", "start"]].values
    left.loc[rng.random(n_left) < 0.05, "start"] = np.nan
    right = pd.DataFrame({
        "group": rng.integers(0, n_groups, n_right),
        "rstart": rng.uniform(0, 100, n_right).round(1),
        "ridx": np.arange(n_right),
    })
    right["rstop"] = right["rstart"] + rng.uniform(0, 15, n_right).round(1)
    inv = rng.random(n_right) < 0.1
    right.loc[inv, ["rstart", "rstop"]] = right.loc[inv, ["rstart", "rstop"]].values[:, ::-1]
    right.loc[rng.random(n_right) < 0.05, "rstop"] = np.nan
    return left, right


def _slow_pairs(left, right, on, incl=(True, True, True, True)):
    """Brute force: equi-merge then post-filter with the interval predicate
    (the reference's test oracle pattern, tests/test_merge_intervals.py:49-122)."""
    ils, ilp, irs, irp = incl
    m = left.merge(right, on=on) if on else left.merge(right, how="cross")

    def valid(s, p, i1, i2):
        if pd.isna(s) or pd.isna(p):
            return False
        return s <= p if (i1 and i2) else s < p

    ok = []
    for _, r in m.iterrows():
        if not valid(r.start, r.stop, ils, ilp) or not valid(r.rstart, r.rstop, irs, irp):
            ok.append(False)
            continue
        c1 = r.start < r.rstop or (r.start == r.rstop and ils and irp)
        c2 = r.rstart < r.stop or (r.rstart == r.stop and irs and ilp)
        ok.append(bool(c1 and c2))
    return m[np.array(ok, dtype=bool)] if len(m) else m


@pytest.mark.parametrize("seed", [0, 1])
@pytest.mark.parametrize("incl", [(True, True, True, True), (False, True, True, False), (False, False, False, False)])
def test_merge_inner_overlap(spark, seed, incl):
    left, right = _make_sides(seed)
    out = merge_intervals(
        to_sdf(spark, left), to_sdf(spark, right), on="group", how="inner",
        left_start="start", left_stop="stop", right_start="rstart", right_stop="rstop",
        include_left_start=incl[0], include_left_stop=incl[1],
        include_right_start=incl[2], include_right_stop=incl[3],
    ).toPandas()
    exp = _slow_pairs(left, right, "group", incl)
    assert_pdf_equal(out, exp, sort_by=["idx", "ridx"])


@pytest.mark.parametrize("how", ["left", "right", "outer"])
def test_merge_how(spark, how):
    left, right = _make_sides(2)
    out = merge_intervals(
        to_sdf(spark, left), to_sdf(spark, right), on="group", how=how,
        left_start="start", left_stop="stop", right_start="rstart", right_stop="rstop",
    ).toPandas()
    m = _slow_pairs(left, right, "group")
    if how in ("left", "outer"):
        missing = left[~left.idx.isin(m.idx)].copy()
        for c in ["rstart", "rstop", "ridx"]:
            missing[c] = np.nan
        m = pd.concat([m, missing], ignore_index=True)
    if how in ("right", "outer"):
        missing = right[~right.ridx.isin(m.ridx)].copy()
        for c in ["start", "stop", "idx"]:
            missing[c] = np.nan
        m = pd.concat([m, missing], ignore_index=True)
    assert_pdf_equal(out, m, sort_by=["idx", "ridx", "group"])


@pytest.mark.parametrize("keep", ["first", "last", "both"])
def test_merge_keep(spark, keep):
    left, right = _make_sides(3)
    out = merge_intervals(
        to_sdf(spark, left), to_sdf(spark, right), on="group", how="inner",
        left_start="start", left_stop="stop", right_start="rstart", right_stop="rstop",
        keep=keep, keep_by="ridx",
    ).toPandas()
    m = _slow_pairs(left, right, "group")
    parts = []
    if keep in ("first", "both"):
        parts.append(m.sort_values("ridx", kind="stable").groupby("idx", as_index=False).first())
    if keep in ("last", "both"):
        parts.append(m.sort_values("ridx", kind="stable").groupby("idx", as_index=False).last())
    exp = pd.concat(parts, ignore_index=True).drop_duplicates(["idx", "ridx"])
    # groupby.first reorders columns; restore
    exp = exp[m.columns.tolist()]
    assert_pdf_equal(out, exp, sort_by=["idx", "ridx"])


@pytest.mark.parametrize("how", ["right", "outer"])
def test_merge_keep_first_with_right_and_outer(spark, how):
    """keep partitions by the RIGHT row for how="right" (reference swaps
    sides, merging.py:151-164); for how="outer" unmatched other-side rows
    bypass the reduction."""
    left, right = _make_sides(7)
    out = merge_intervals(
        to_sdf(spark, left), to_sdf(spark, right), on="group", how=how,
        keep="first", keep_by="idx" if how == "right" else "ridx",
        left_start="start", left_stop="stop",
        right_start="rstart", right_stop="rstop",
    ).toPandas()
    m = _slow_pairs(left, right, "group")
    if how == "right":
        red = m.sort_values("idx", kind="stable").groupby("ridx", as_index=False).first()
        red = red[m.columns.tolist()]
        missing = right[~right.ridx.isin(m.ridx)].copy()
        for c in ["start", "stop", "idx"]:
            missing[c] = np.nan
        exp = pd.concat([red, missing], ignore_index=True)
    else:
        red = m.sort_values("ridx", kind="stable").groupby("idx", as_index=False).first()
        red = red[m.columns.tolist()]
        miss_l = left[~left.idx.isin(m.idx)].copy()
        for c in ["rstart", "rstop", "ridx"]:
            miss_l[c] = np.nan
        # reference injects missing rows AFTER the keep reduction
        # (merging.py:498-501): rights reduced away count as unmatched
        miss_r = right[~right.ridx.isin(red.ridx)].copy()
        for c in ["start", "stop", "idx"]:
            miss_r[c] = np.nan
        exp = pd.concat([red, miss_l, miss_r], ignore_index=True)
    assert_pdf_equal(out, exp, sort_by=["idx", "ridx", "group"])


@pytest.mark.parametrize("how", ["inner", "left", "right", "outer"])
@pytest.mark.parametrize("keep", ["all", "first", "both"])
def test_merge_how_keep_grid(spark, how, keep):
    """Full how x keep interaction grid against a pandas oracle (the
    reference sweeps these as independent axes; interactions are where the
    reduction/unmatched-injection logic can go wrong)."""
    left, right = _make_sides(11, n_left=120, n_right=60)
    out = merge_intervals(
        to_sdf(spark, left), to_sdf(spark, right), on="group", how=how,
        keep=keep, keep_by="idx" if how == "right" else "ridx",
        left_start="start", left_stop="stop",
        right_start="rstart", right_stop="rstop").toPandas()

    m = _slow_pairs(left, right, "group")
    if keep != "all":
        part, order = ("ridx", "idx") if how == "right" else ("idx", "ridx")
        s = m.sort_values(order, kind="stable")
        parts = []
        if keep in ("first", "both"):
            parts.append(s.groupby(part, as_index=False, sort=False).head(1))
        if keep in ("last", "both"):
            parts.append(s.groupby(part, as_index=False, sort=False).tail(1))
        m = pd.concat(parts, ignore_index=True).drop_duplicates(["idx", "ridx"])
    if how in ("left", "outer"):
        missing = left[~left.idx.isin(m.idx)].copy()
        for c in ["rstart", "rstop", "ridx"]:
            missing[c] = np.nan
        m = pd.concat([m, missing], ignore_index=True)
    if how in ("right", "outer"):
        missing = right[~right.ridx.isin(m.ridx)].copy()
        for c in ["start", "stop", "idx"]:
            missing[c] = np.nan
        m = pd.concat([m, missing], ignore_index=True)
    assert_pdf_equal(out, m[["group", "start", "idx", "stop",
                             "rstart", "ridx", "rstop"]],
                     sort_by=["idx", "ridx", "group"])


def test_merge_property_random_how_incl(spark):
    """Property sweep (reference tests/test_merge_intervals.py random-sweep
    strategy): random how x endpoint-inclusion combinations against the
    brute-force oracle.  Derandomized via seeds so CI is stable; the r3/r4
    merge bugs lived exactly in under-swept corners of this matrix."""
    import itertools
    import random as _random

    rnd = _random.Random(20260813)
    combos = list(itertools.product(
        ["inner", "left", "right", "outer"], [0, 1], [0, 1]))
    rnd.shuffle(combos)
    for how, i_ls, i_rp in combos[:8]:
        incl = (bool(i_ls), True, bool(i_rp), False)
        seed = rnd.randrange(10**6)
        left, right = _make_sides(seed, n_left=80, n_right=40)
        out = merge_intervals(
            to_sdf(spark, left), to_sdf(spark, right), on="group", how=how,
            left_start="start", left_stop="stop",
            right_start="rstart", right_stop="rstop",
            include_left_start=incl[0], include_left_stop=incl[1],
            include_right_start=incl[2], include_right_stop=incl[3],
        ).toPandas()
        m = _slow_pairs(left, right, "group", incl)
        if how in ("left", "outer"):
            missing = left[~left.idx.isin(m.idx)].copy()
            for c in ["rstart", "rstop", "ridx"]:
                missing[c] = np.nan
            m = pd.concat([m, missing], ignore_index=True)
        if how in ("right", "outer"):
            missing = right[~right.ridx.isin(m.ridx)].copy()
            for c in ["start", "stop", "idx"]:
                missing[c] = np.nan
            m = pd.concat([m, missing], ignore_index=True)
        if how == "inner":
            m = m.copy()
        assert_pdf_equal(out, m[["group", "start", "idx", "stop",
                                 "rstart", "ridx", "rstop"]],
                         sort_by=["idx", "ridx", "group"])


def test_merge_half_infinite_and_points(spark):
    left, right = _make_sides(4)
    # left as points (start only), right half-infinite [rstart, +inf)
    out = merge_intervals(
        to_sdf(spark, left), to_sdf(spark, right), on="group", how="inner",
        left_start="start", left_stop="start", right_start="rstart", right_stop=None,
    ).toPandas()
    m = left.merge(right, on="group")
    m = m[m.start.notna() & m.rstart.notna() & (m.rstart <= m.start)]
    assert_pdf_equal(out, m, sort_by=["idx", "ridx"])


def test_merge_bucket_strategy_equivalence(spark):
    left, right = _make_sides(5)
    kw = dict(how="inner", left_start="start", left_stop="stop",
              right_start="rstart", right_stop="rstop")
    direct = merge_intervals(to_sdf(spark, left), to_sdf(spark, right), on="group", **kw).toPandas()
    bucket = merge_intervals(to_sdf(spark, left), to_sdf(spark, right), on="group",
                             strategy="bucket", bucket_width=10.0, **kw).toPandas()
    assert_pdf_equal(bucket, direct, sort_by=["idx", "ridx"])
    # no equi keys at all
    small_l, small_r = left.head(50), right.head(30)
    direct2 = merge_intervals(to_sdf(spark, small_l), to_sdf(spark, small_r),
                              suffixes=("_l", "_r"), **kw).toPandas()
    bucket2 = merge_intervals(to_sdf(spark, small_l), to_sdf(spark, small_r),
                              suffixes=("_l", "_r"), strategy="bucket", bucket_width=25.0, **kw).toPandas()
    assert_pdf_equal(bucket2, direct2, sort_by=["idx", "ridx"])
    # bucket composes with how=left and keep reduction
    kw2 = dict(kw, how="left", keep="first", keep_by="ridx")
    direct3 = merge_intervals(to_sdf(spark, left), to_sdf(spark, right),
                              on="group", **kw2).toPandas()
    bucket3 = merge_intervals(to_sdf(spark, left), to_sdf(spark, right), on="group",
                              strategy="bucket", bucket_width=10.0, **kw2).toPandas()
    assert_pdf_equal(bucket3, direct3, sort_by=["idx", "ridx"])


def test_merge_bucket_string_endpoints(spark):
    """strategy="bucket" on STRING endpoints: the distinct endpoint values
    are dictionary-encoded into dense order-preserving codes and the
    bucket explode/equi-join runs on the codes (merging.py _bucket_join)
    — result must match the direct strategy exactly, and the plan must
    not be a broadcast-nested-loop join."""
    rng = np.random.default_rng(23)
    n_l, n_r = 300, 120

    def vstr(a):
        return np.array([f"v{x:04d}" for x in a])

    a = rng.integers(0, 400, n_l)
    b = rng.integers(0, 400, n_r)
    left = pd.DataFrame({"start": vstr(a), "stop": vstr(a + rng.integers(0, 40, n_l)),
                         "idx": np.arange(n_l)})
    right = pd.DataFrame({"rstart": vstr(b), "rstop": vstr(b + rng.integers(0, 40, n_r)),
                          "ridx": np.arange(n_r)})
    kw = dict(how="inner", left_start="start", left_stop="stop",
              right_start="rstart", right_stop="rstop")
    direct = merge_intervals(to_sdf(spark, left), to_sdf(spark, right), **kw).toPandas()
    bdf = merge_intervals(to_sdf(spark, left), to_sdf(spark, right),
                          strategy="bucket", bucket_width=16.0, **kw)
    plan = bdf._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert_pdf_equal(bdf.toPandas(), direct, sort_by=["idx", "ridx"])
    # mixed string/numeric endpoints must raise, not misbucket
    with pytest.raises(ValueError, match="mixed"):
        merge_intervals(
            to_sdf(spark, left),
            to_sdf(spark, right.assign(rstart=np.arange(n_r, dtype=float),
                                       rstop=np.arange(n_r, dtype=float) + 3)),
            strategy="bucket", bucket_width=16.0, **kw).count()


@pytest.mark.parametrize("keep", ["first", "last", "both"])
def test_merge_keep_right_without_keep_by(spark, keep):
    """how="right" + keep without keep_by orders by the generated left
    content-hash id (reference swaps sides, merging.py:151-164).  The pick
    among matches is arbitrary-but-deterministic, so assert structure: one
    kept row per matched right (<=2 for "both"), every kept pair a true
    match, unmatched rights preserved.  Regression: r3 raised
    UNRESOLVED_COLUMN __left_row_id__ here (need_left_id missed the case)."""
    left, right = _make_sides(13, n_left=120, n_right=60)
    out = merge_intervals(
        to_sdf(spark, left), to_sdf(spark, right), on="group", how="right",
        keep=keep,
        left_start="start", left_stop="stop",
        right_start="rstart", right_stop="rstop").toPandas()
    m = _slow_pairs(left, right, "group")
    matched_r = set(m.ridx)
    got_matched = out[out.idx.notna()]
    per_right = got_matched.groupby("ridx").size()
    assert set(per_right.index) == matched_r
    assert (per_right <= (2 if keep == "both" else 1)).all()
    if keep != "both":
        assert (per_right == 1).all()
    true_pairs = set(zip(m.idx, m.ridx))
    assert set(zip(got_matched.idx, got_matched.ridx)) <= true_pairs
    # unmatched rights come through with null left columns
    assert set(out[out.idx.isna()].ridx) == set(right.ridx) - matched_r


def test_merge_keep_with_duplicate_left_rows(spark):
    """Duplicate left rows each keep their own reduced match (VERDICT r1
    determinism fix: content-hash ids + dup rank, not mono_id)."""
    left = pd.DataFrame({"group": [1, 1, 1], "start": [0.0, 0.0, 5.0],
                         "stop": [10.0, 10.0, 9.0]})
    right = pd.DataFrame({"group": [1, 1], "rstart": [1.0, 2.0],
                          "rstop": [3.0, 6.0], "ridx": [0, 1]})
    out = merge_intervals(
        to_sdf(spark, left), to_sdf(spark, right), on="group", how="left",
        keep="first", keep_by="ridx",
        left_start="start", left_stop="stop",
        right_start="rstart", right_stop="rstop").toPandas()
    assert len(out) == 3
    dup = out[out.start == 0.0]
    assert len(dup) == 2 and (dup.ridx == 0).all()


def test_merge_outer_keyless(spark):
    """Keyless full outer falls back to inner + deterministic anti-joins."""
    left = pd.DataFrame({"start": [0.0, 50.0], "stop": [5.0, 55.0], "idx": [0, 1]})
    right = pd.DataFrame({"rstart": [4.0, 100.0], "rstop": [6.0, 101.0], "ridx": [0, 1]})
    out = merge_intervals(
        to_sdf(spark, left), to_sdf(spark, right), how="outer",
        left_start="start", left_stop="stop",
        right_start="rstart", right_stop="rstop").toPandas()
    assert len(out) == 3
    matched = out[out.idx.notna() & out.ridx.notna()]
    assert len(matched) == 1 and matched.iloc[0].idx == 0 and matched.iloc[0].ridx == 0


def test_merge_return_indexers(spark):
    left, right = _make_sides(8)
    out = merge_intervals(
        to_sdf(spark, left), to_sdf(spark, right), on="group", how="left",
        left_start="start", left_stop="stop",
        right_start="rstart", right_stop="rstop",
        left_id="idx", right_id="ridx", return_indexers=True).toPandas()
    m = _slow_pairs(left, right, "group")
    got = set(zip(out["__left_row_id__"], out["__right_row_id__"]))
    assert {p for p in got if p[1] != -1} == set(zip(m.idx, m.ridx))
    assert {p[0] for p in got if p[1] == -1} == set(left.idx) - set(m.idx)


def test_merge_return_indexers_with_keep(spark):
    """Indexers reflect the post-reduction pair set (reference applies
    _finalize_indexers after _keep_indexers)."""
    left, right = _make_sides(12)
    out = merge_intervals(
        to_sdf(spark, left), to_sdf(spark, right), on="group", how="left",
        keep="first", keep_by="ridx",
        left_start="start", left_stop="stop",
        right_start="rstart", right_stop="rstop",
        left_id="idx", right_id="ridx", return_indexers=True).toPandas()
    m = _slow_pairs(left, right, "group")
    red = m.sort_values("ridx", kind="stable").groupby("idx", as_index=False).head(1)
    exp = set(zip(red.idx, red.ridx)) | \
        {(i, -1) for i in left.idx if i not in set(m.idx)}
    assert set(zip(out["__left_row_id__"], out["__right_row_id__"])) == exp


def test_find_containing_length_col(spark):
    """length_col + one endpoint == explicit endpoints (reference
    merging.py:582-594)."""
    rng = np.random.default_rng(9)
    points = pd.DataFrame({"g": rng.integers(0, 4, 80),
                           "p": rng.uniform(0, 100, 80).round(1),
                           "pidx": np.arange(80)})
    ivls = pd.DataFrame({"g": rng.integers(0, 4, 30),
                         "start": rng.uniform(0, 90, 30).round(1),
                         "length": rng.uniform(0, 25, 30).round(1),
                         "iid": np.arange(30)})
    via_len = find_containing_interval(
        to_sdf(spark, points), to_sdf(spark, ivls), point_cols="p",
        which="both", start_col="start", stop_col=None, length_col="length",
        group_by="g", interval_id="iid").toPandas()
    expl = ivls.assign(stop=ivls.start + ivls.length)
    via_stop = find_containing_interval(
        to_sdf(spark, points), to_sdf(spark, expl), point_cols="p",
        which="both", start_col="start", stop_col="stop",
        group_by="g", interval_id="iid").toPandas()
    assert_pdf_equal(via_len, via_stop, sort_by=["pidx"])


def test_find_containing_interval(spark):
    rng = np.random.default_rng(6)
    points = pd.DataFrame({
        "g": rng.integers(0, 5, 200),
        "p": rng.uniform(-10, 110, 200).round(1),
        "pidx": np.arange(200),
    })
    ivls = pd.DataFrame({
        "g": rng.integers(0, 5, 60),
        "start": rng.uniform(0, 100, 60).round(1),
        "iid": np.arange(60),
    })
    ivls["stop"] = ivls["start"] + rng.uniform(0, 20, 60).round(1)
    out = find_containing_interval(
        to_sdf(spark, points), to_sdf(spark, ivls), point_cols="p", which="both",
        start_col="start", stop_col="stop", group_by="g", interval_id="iid",
    ).toPandas()

    first, last = [], []
    for _, r in points.iterrows():
        c = ivls[(ivls.g == r.g) & (ivls.start <= r.p) & (r.p <= ivls.stop)]
        first.append(c.iid.min() if len(c) else -1)
        last.append(c.iid.max() if len(c) else -1)
    exp = points.copy()
    exp["p__first"] = first
    exp["p__last"] = last
    assert_pdf_equal(out, exp, sort_by=["pidx"])


def test_find_containing_generated_id(spark):
    """Without interval_id, ids are a generated 126-bit content hash
    (DECIMAL(38,0)): distinct intervals get distinct ids, equal-content
    intervals the same id, points outside all intervals -1."""
    points = pd.DataFrame({"g": [1, 1, 1, 2], "p": [5.0, 15.0, 99.0, 5.0]})
    ivls = pd.DataFrame({"g": [1, 1, 1, 2],
                         "start": [0.0, 10.0, 0.0, 0.0],
                         "stop": [9.0, 19.0, 9.0, 9.0]})  # rows 0,2 identical
    out = find_containing_interval(
        to_sdf(spark, points), to_sdf(spark, ivls), point_cols="p",
        which="first", start_col="start", stop_col="stop", group_by="g")
    assert dict(out.dtypes)["p__first"] == "decimal(38,0)"
    pdf = out.toPandas().sort_values(["g", "p"]).reset_index(drop=True)
    ids = pdf.p__first.astype(object)
    assert ids[2] == -1                       # p=99 in no interval
    # p=5 matches the duplicated [0,9] interval (one shared id), p=15 the
    # [10,19] interval (a different id)
    assert ids[0] != -1 and ids[1] != -1 and ids[0] != ids[1]
    assert ids[3] != -1


def test_keep_first_duplicate_left_multiplicity(spark):
    """content_keep pre-aggregation: duplicate left rows must each appear in
    the output (dedup + count + final explode), for matched, unmatched and
    invalid-interval left rows."""
    left = pd.DataFrame({
        "g": [1, 1, 1, 1, 2, 2],
        "start": [0.0, 0.0, 50.0, 50.0, 5.0, np.nan],
        "stop": [10.0, 10.0, 60.0, 60.0, 7.0, 8.0],
    })
    right = pd.DataFrame({
        "g": [1, 1],
        "rstart": [2.0, 5.0],
        "rstop": [20.0, 30.0],
        "tag": ["a", "b"],
    })
    for how, exp_rows in [("inner", 2), ("left", 6)]:
        out = merge_intervals(
            to_sdf(spark, left), to_sdf(spark, right), on="g", how=how,
            left_start="start", left_stop="stop",
            right_start="rstart", right_stop="rstop",
            keep="first", keep_by="tag").toPandas()
        assert len(out) == exp_rows, (how, out)
        matched = out[out["tag"].notna()]
        # both duplicate copies of the matching [0,10] interval appear,
        # each picking the same first right (tag 'a')
        assert len(matched) == 2 and set(matched["tag"]) == {"a"}


def test_keep_reserved_mult_name_raises(spark):
    left = pd.DataFrame({"g": [1], "start": [0.0], "stop": [1.0],
                         "__left_mult__": [1]})
    right = pd.DataFrame({"g": [1], "rstart": [0.0], "rstop": [2.0]})
    with pytest.raises(ValueError, match="reserved"):
        merge_intervals(to_sdf(spark, left), to_sdf(spark, right), on="g",
                        how="inner", keep="first",
                        left_start="start", left_stop="stop",
                        right_start="rstart", right_stop="rstop",
                        keep_by="rstart")


def test_merge_sweep_strategy_equivalence(spark):
    """Sort-sweep kernel vs direct join: identical match sets across
    inclusion flags, orientations, duplicates and keep reduction."""
    rng = np.random.RandomState(11)
    ivl = pd.DataFrame({
        "group": rng.randint(0, 10, 400),
        "start": rng.randint(-10, 10, 400).astype(float),
        "idx": np.arange(400)})
    ivl["stop"] = ivl["start"] + rng.randint(0, 6, 400)
    ivl = pd.concat([ivl, ivl.head(20)], ignore_index=True)  # duplicate rows
    pts = pd.DataFrame({
        "group": rng.randint(0, 10, 250),
        "p": rng.randint(-12, 16, 250).astype(float),
        "ridx": np.arange(250)})
    li, ri = to_sdf(spark, ivl), to_sdf(spark, pts)

    base = dict(how="inner", left_start="start", left_stop="stop",
                right_start="p", right_stop="p")
    for incs in (True, False):
        for inct in (True, False):
            kw = dict(base, include_left_start=incs, include_left_stop=inct)
            d = merge_intervals(li, ri, on="group", **kw).toPandas()
            s = merge_intervals(li, ri, on="group", strategy="sweep", **kw).toPandas()
            assert sorted(s.columns) == sorted(d.columns)
            assert_pdf_equal(s, d, sort_by=["idx", "ridx"])

    # points on the left side
    kwl = dict(how="inner", left_start="p", left_stop="p",
               right_start="start", right_stop="stop")
    d = merge_intervals(ri, li, on="group", **kwl).toPandas()
    s = merge_intervals(ri, li, on="group", strategy="sweep", **kwl).toPandas()
    assert_pdf_equal(s, d, sort_by=["idx", "ridx"])

    # composes with the keep reduction
    kw2 = dict(base, keep="first", keep_by=["p", "ridx"])
    d = merge_intervals(li, ri, on="group", **kw2).toPandas()
    s = merge_intervals(li, ri, on="group", strategy="sweep", **kw2).toPandas()
    assert_pdf_equal(s, d, sort_by=["idx", "ridx"])

    # guard rails: doubly-unbounded shapes / non-inner hows are rejected
    with pytest.raises(ValueError, match="start column"):
        merge_intervals(li, ri, on="group", how="inner",
                        left_stop="stop", right_stop="p", strategy="sweep")
    # non-inner hows compose via the anti-join path (like bucket)
    for how in ("left", "right", "outer"):
        kwh = dict(base, how=how)
        d = merge_intervals(li, ri, on="group", **kwh).toPandas()
        s = merge_intervals(li, ri, on="group", strategy="sweep", **kwh).toPandas()
        assert len(s) == len(d), (how, len(s), len(d))
        assert_pdf_equal(s, d, sort_by=["idx", "ridx"])


def test_merge_sweep_general_overlap(spark):
    """Two-sweep decomposition of a general interval-overlap join equals
    the direct join across all 16 inclusion-flag combinations, with
    integer endpoints so boundary ties actually occur (including the
    degenerate right intervals that exercise the residual filter)."""
    rng = np.random.RandomState(5)
    left = pd.DataFrame({
        "group": rng.randint(0, 8, 300),
        "start": rng.randint(-8, 8, 300).astype(float),
        "idx": np.arange(300)})
    left["stop"] = left["start"] + rng.randint(0, 5, 300)
    right = pd.DataFrame({
        "group": rng.randint(0, 8, 200),
        "rstart": rng.randint(-9, 9, 200).astype(float),
        "ridx": np.arange(200)})
    # mix zero-length (degenerate) and proper right intervals
    right["rstop"] = right["rstart"] + rng.randint(0, 4, 200)
    li, ri = to_sdf(spark, left), to_sdf(spark, right)
    for ils in (True, False):
        for ilt in (True, False):
            for irs in (True, False):
                for irt in (True, False):
                    kw = dict(how="inner", left_start="start", left_stop="stop",
                              right_start="rstart", right_stop="rstop",
                              include_left_start=ils, include_left_stop=ilt,
                              include_right_start=irs, include_right_stop=irt)
                    d = merge_intervals(li, ri, on="group", **kw).toPandas()
                    s = merge_intervals(li, ri, on="group", strategy="sweep",
                                        **kw).toPandas()
                    assert sorted(s.columns) == sorted(d.columns), (ils, ilt, irs, irt)
                    assert len(s) == len(d), (ils, ilt, irs, irt, len(s), len(d))
                    assert_pdf_equal(s, d, sort_by=["idx", "ridx"])


def test_find_containing_sweep_strategy(spark):
    """find_containing_interval(strategy="sweep") equals the direct path."""
    rng = np.random.RandomState(3)
    pts = pd.DataFrame({"g": rng.randint(0, 5, 150),
                        "x": rng.randint(-10, 10, 150).astype(float)})
    ivl = pd.DataFrame({"g": rng.randint(0, 5, 80),
                        "start": rng.randint(-10, 8, 80).astype(float),
                        "iid": np.arange(80)})
    ivl["stop"] = ivl["start"] + rng.randint(0, 6, 80)
    p, i = to_sdf(spark, pts), to_sdf(spark, ivl)
    kw = dict(point_cols="x", which="both", group_by="g", interval_id="iid")
    d = find_containing_interval(p, i, **kw).toPandas()
    s = find_containing_interval(p, i, strategy="sweep", **kw).toPandas()
    assert_pdf_equal(s.sort_values(["g", "x"]).reset_index(drop=True),
                     d.sort_values(["g", "x"]).reset_index(drop=True))


def test_merge_sweep_half_infinite(spark):
    """Sweep with None endpoints (+/- infinity) equals the direct join:
    the missing endpoint pins the position range to the group's first or
    last point, covering keyless single-inequality shapes."""
    rng = np.random.RandomState(9)
    ivl = pd.DataFrame({"g": rng.randint(0, 6, 200),
                        "start": rng.randint(-10, 10, 200).astype(float),
                        "idx": np.arange(200)})
    ivl["stop"] = ivl["start"] + rng.randint(0, 6, 200)
    pts = pd.DataFrame({"g": rng.randint(0, 6, 150),
                        "p": rng.randint(-12, 16, 150).astype(float),
                        "ridx": np.arange(150)})
    rint = pts.assign(rstop=pts.p + 3)
    li, ri, rr = to_sdf(spark, ivl), to_sdf(spark, pts), to_sdf(spark, rint)

    cases = [
        ("t3-shape", ri, li, dict(on="g", how="inner", left_start="p",
                                  left_stop="p", right_stop="stop",
                                  include_right_stop=False)),
        ("rstart-inf", li, rr, dict(on="g", how="inner", left_start="start",
                                    left_stop="stop", right_stop="rstop")),
        ("lstop-inf", li, rr, dict(on="g", how="inner", left_start="start",
                                   right_start="p", right_stop="rstop")),
        ("lstart-inf", li, rr, dict(on="g", how="inner", left_stop="stop",
                                    right_start="p", right_stop="rstop")),
        ("keyless-ineq", ri, li, dict(how="inner", left_start="p",
                                      left_stop="p", right_stop="stop",
                                      include_right_stop=False)),
    ]
    for tag, L, R, kw in cases:
        d = merge_intervals(L, R, strategy="direct", suffixes=("", "_y"), **kw).toPandas()
        s = merge_intervals(L, R, strategy="sweep", suffixes=("", "_y"), **kw).toPandas()
        assert sorted(s.columns) == sorted(d.columns), tag
        assert len(s) == len(d), (tag, len(s), len(d))
        assert_pdf_equal(s, d, sort_by=["idx", "ridx"])

    with pytest.raises(ValueError, match="start column"):
        merge_intervals(li, rr, on="g", how="inner", left_stop="stop",
                        right_stop="rstop", strategy="sweep")


@pytest.mark.parametrize("kind", ["date", "daytime", "string"])
def test_merge_sweep_keyless_axis_types(spark, kind):
    """Keyless strategy="sweep" == direct on date, day-time-interval and
    string endpoints, for points in intervals with a strict lower bound.
    The keyless sweep range-chunks by the axis' order view; strings (here
    the decimal digits of integers, whose lexicographic order is not their
    numeric order) run as one chunk."""
    rng = np.random.RandomState(23)
    left = pd.DataFrame({"start": rng.randint(0, 1000, 300),
                         "idx": np.arange(300)})
    left["stop"] = left["start"] + rng.randint(0, 60, 300)
    right = pd.DataFrame({"p": rng.randint(0, 1000, 200),
                          "ridx": np.arange(200)})
    li = axis_as(spark.createDataFrame(left), ["start", "stop"], kind)
    ri = axis_as(spark.createDataFrame(right), ["p"], kind)
    d, s = (merge_intervals(li, ri, how="inner", strategy=st,
                            left_start="start", left_stop="stop",
                            right_start="p", right_stop="p",
                            include_left_start=False)
            .select("idx", "ridx").toPandas()
            for st in ("direct", "sweep"))
    assert len(d) > 100
    assert_pdf_equal(s, d, sort_by=["idx", "ridx"])


def test_merge_intervals_self_join_derived_frames(spark):
    """Both inputs cut from ONE parent frame (windows and observations
    derived from the same table — the make_windows flow) must work on
    every strategy: localCheckpoint preserves exprIds, so without the
    fresh-alias re-projection inside merge_intervals the parent-
    qualified key references fail analysis as ambiguous."""
    import pandas as pd
    from pyspark.sql import functions as F

    from catabra_pandas_spark.operators.merging import merge_intervals

    pdf = pd.DataFrame({"entity": [1, 1, 2, 2], "t": [1.0, 5.0, 2.0, 8.0]})
    df = spark.createDataFrame(pdf).localCheckpoint(eager=True)
    wins = df.groupBy("entity").agg(F.min("t").alias("start"),
                                    F.max("t").alias("stop"))
    iv = df.select("entity", F.col("t").alias("start"),
                   (F.col("t") + 1.0).alias("stop"))
    for strat, kw in (("direct", {}), ("sweep", {}),
                      ("bucket", {"bucket_width": 4.0})):
        out = merge_intervals(wins, iv, on="entity", how="inner",
                              left_start="start", left_stop="stop",
                              right_start="start", right_stop="stop",
                              suffixes=("_w", "_i"), strategy=strat,
                              **kw).toPandas()
        assert len(out) == 4, strat  # every obs interval overlaps its span
        assert set(out["entity"]) == {1, 2}, strat


def test_auto_strategy_cost_detector(spark):
    """strategy="auto" with equi-keys runs the few-large-groups detector
    (VERDICT r10 #3; reference precedent: the per-entity selector at
    reference resampling.py:1271-1281): sweep when the direct join's
    estimated per-group residual n*m/G blows past 1024*(n+m), direct
    otherwise.  Plan identity is checked via sameSemantics against the
    explicitly pinned strategies, and the sweep pick is verified to
    produce the direct join's exact rows."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(3)
    nl, nr = 60_000, 30_000
    lp = pd.DataFrame({"group": rng.randint(0, 3, nl),
                       "start": rng.uniform(-10, 10, nl)})
    lp["stop"] = lp["start"] + rng.uniform(0, 0.01, nl)
    rp = pd.DataFrame({"group": rng.randint(0, 3, nr),
                       "p": rng.uniform(-10, 10, nr)})
    l, r = spark.createDataFrame(lp), spark.createDataFrame(rp)
    kw = dict(on="group", how="inner", left_start="start", left_stop="stop",
              right_start="p", right_stop="p")

    # few large groups -> sweep, and sweep's rows == direct's rows
    auto = merge_intervals(l, r, **kw)
    assert auto.sameSemantics(merge_intervals(l, r, strategy="sweep", **kw))
    assert not auto.sameSemantics(merge_intervals(l, r, strategy="direct", **kw))
    assert auto.count() == merge_intervals(l, r, strategy="direct", **kw).count()

    # same sizes, many groups -> healthy regime, stays direct
    l2 = spark.createDataFrame(lp.assign(group=rng.randint(0, 20_000, nl)))
    r2 = spark.createDataFrame(rp.assign(group=rng.randint(0, 20_000, nr)))
    assert merge_intervals(l2, r2, **kw).sameSemantics(
        merge_intervals(l2, r2, strategy="direct", **kw))

    # tiny inputs skip the estimation jobs entirely (plan-time size gate)
    l3, r3 = spark.createDataFrame(lp.head(400)), spark.createDataFrame(rp.head(200))
    assert merge_intervals(l3, r3, **kw).sameSemantics(
        merge_intervals(l3, r3, strategy="direct", **kw))

    # half-infinite endpoints are outside the detector's shapes (their
    # output is as large as direct's residual): auto runs direct
    assert merge_intervals(l, r, on="group", how="inner",
                           left_start="start", right_start="p",
                           right_stop="p").sameSemantics(
        merge_intervals(l, r, on="group", how="inner", left_start="start",
                        right_start="p", right_stop="p", strategy="direct"))
    # a degenerate side with an exclusive flag is a shape the sweep
    # accepts, so the detector decides it (an open point side is empty
    # after the validity filter on every plan)
    assert merge_intervals(l, r, include_right_start=False, **kw).sameSemantics(
        merge_intervals(l, r, include_right_start=False, strategy="sweep", **kw))


def test_find_containing_auto_strategy(spark):
    """find_containing_interval defaults to strategy="auto" (r11): on the
    few-large-groups shape the cost detector routes the internal
    point-in-interval join through the sweep, with values identical to
    direct; small keyless calls stay on the direct plan."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(9)
    n_iv, n_pt = 50_000, 40_000
    iv = pd.DataFrame({"g": rng.randint(0, 2, n_iv),
                       "start": rng.uniform(0, 100, n_iv)})
    iv["stop"] = iv["start"] + rng.uniform(0, 0.004, n_iv)
    iv["iid"] = np.arange(n_iv)
    pts = pd.DataFrame({"g": rng.randint(0, 2, n_pt),
                        "p": rng.uniform(0, 100, n_pt)})
    sivl, spts = spark.createDataFrame(iv), spark.createDataFrame(pts)

    kw = dict(point_cols="p", group_by="g", which="first",
              interval_id="iid")
    auto = find_containing_interval(spts, sivl, **kw)
    assert auto.sameSemantics(
        find_containing_interval(spts, sivl, strategy="sweep", **kw))
    direct = find_containing_interval(spts, sivl, strategy="direct", **kw)
    assert not auto.sameSemantics(direct)
    a = auto.toPandas().sort_values(["g", "p"]).reset_index(drop=True)
    d = direct.toPandas().sort_values(["g", "p"]).reset_index(drop=True)
    assert a["p__first"].tolist() == d["p__first"].tolist()

    # keyless at this size (ratio ~22k > the 16384 keyless bound): the
    # BNLJ-rescue detector routes the internal join through the sweep
    assert find_containing_interval(
        spts.select("p"), sivl.select("start", "stop", "iid"),
        point_cols="p", interval_id="iid").sameSemantics(
        find_containing_interval(
            spts.select("p"), sivl.select("start", "stop", "iid"),
            point_cols="p", interval_id="iid", strategy="sweep"))
    # keyless SMALL inputs stay on the direct (broadcast) plan
    assert find_containing_interval(
        spts.select("p").limit(500), sivl.select("start", "stop", "iid"),
        point_cols="p", interval_id="iid").sameSemantics(
        find_containing_interval(
            spts.select("p").limit(500), sivl.select("start", "stop", "iid"),
            point_cols="p", interval_id="iid", strategy="direct"))


def test_auto_strategy_keyless_rescue(spark):
    """Keyless strategy="auto" (r11): with four finite endpoints and no
    bucket_width, the detector rescues the large-large broadcast-nested-
    loop hazard — sweep when n*m > 16384*(n+m), direct otherwise
    (measured crossover ~10k: BNLJ comparisons are ~3x cheaper than SMJ
    residuals, so the keyless bound sits above the keyed 1024)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(17)

    def mk(nl, nr):
        lp = pd.DataFrame({"start": rng.uniform(0, 100, nl)})
        lp["stop"] = lp["start"] + rng.uniform(0, 0.01, nl)
        rp = pd.DataFrame({"p": rng.uniform(0, 100, nr)})
        return spark.createDataFrame(lp), spark.createDataFrame(rp)

    kw = dict(how="inner", left_start="start", left_stop="stop",
              right_start="p", right_stop="p")

    # ratio ~40k -> sweep, and the sweep returns the BNLJ's exact rows
    l, r = mk(120_000, 60_000)
    auto = merge_intervals(l, r, **kw)
    assert auto.sameSemantics(merge_intervals(l, r, strategy="sweep", **kw))
    assert auto.count() == merge_intervals(l, r, strategy="direct", **kw).count()

    # ratio ~10k (below 16384) -> the BNLJ still wins, stays direct
    l2, r2 = mk(30_000, 15_000)
    assert merge_intervals(l2, r2, **kw).sameSemantics(
        merge_intervals(l2, r2, strategy="direct", **kw))

    # half-infinite endpoints are outside the detector's shapes: direct
    l3 = l.select("stop")
    assert merge_intervals(l3, r, how="inner", left_start="stop",
                           left_stop="stop", right_stop="p").sameSemantics(
        merge_intervals(l3, r, how="inner", left_start="stop",
                        left_stop="stop", right_stop="p", strategy="direct"))

    # keyless + bucket_width keeps the bucket strategy
    assert merge_intervals(l, r, bucket_width=1.0, **kw).sameSemantics(
        merge_intervals(l, r, strategy="bucket", bucket_width=1.0, **kw))


def test_auto_detector_plan_time_short_circuit(spark, monkeypatch):
    """r13 (VERDICT r11 #6): _auto_few_large_groups consults optimizer
    plan statistics (util.plan_stats) BEFORE paying the measured stats
    jobs.  Inputs whose optimized plans carry exact row counts (here
    GlobalLimit on top of range — the notebook `.limit(n)` shape) are
    decided with ZERO executed jobs: the keyless pair in full (G == 1
    exactly), the keyed case through the one-sided min(n,m) <= ratio
    bound; a keyed pair that still needs the distinct-key count falls
    through to the measured pass.  Jobs are counted by intercepting
    DataFrame.collect (the measured pass's only action), which is also
    safe against its concurrent two-thread submission."""
    from pyspark.sql import functions as F

    from catabra_pandas_spark.operators import merging as M

    def mk(n, groups=97):
        return (spark.range(n * 2)
                .select((F.col("id") % groups).alias("g"),
                        (F.col("id") * 0.001).alias("start"),
                        (F.col("id") * 0.001 + 0.0005).alias("stop"))
                .limit(n))

    calls = []
    # patch the CONCRETE DataFrame class (instances override the abstract
    # base's collect on this pyspark build)
    cdf = type(mk(10))
    orig_collect = cdf.collect
    monkeypatch.setattr(
        cdf, "collect",
        lambda self: (calls.append(1), orig_collect(self))[1])
    # the plan-bytes tiny gate would mask the row-count algebra for the
    # small keyed side; disable it so the new path is what's under test
    monkeypatch.setattr(M, "_AUTO_TINY_BYTES", 1)

    def probe(l, r, keyed):
        del calls[:]
        on = ["g"] if keyed else []
        dec = M._auto_few_large_groups(l, r, on, on)
        return dec, len(calls)

    # keyless, both counts known, n*m/(n+m) ~ 40k > 16384: sweep, 0 jobs
    assert probe(mk(120_000), mk(60_000), keyed=False) == (True, 0)
    # keyless, ratio ~6.7k < 16384: direct, 0 jobs
    assert probe(mk(20_000), mk(10_000), keyed=False) == (False, 0)
    # keyed, one known side <= 1024: min-bound proves direct, 0 jobs
    assert probe(mk(50_000), mk(800), keyed=True) == (False, 0)
    # keyed, both known and large: G still unknown -> measured pass
    # (2 one-row agg jobs), healthy 97-group regime stays direct
    assert probe(mk(200_000), mk(100_000), keyed=True) == (False, 2)
    # ... and the same shape with 3 groups flips to sweep via measurement
    assert probe(mk(200_000, groups=3), mk(100_000, groups=3),
                 keyed=True) == (True, 2)
    # consistency: hiding the row counts must reproduce the plan-time
    # keyless decision through the measured pass.  localCheckpoint does
    # NOT hide them (LogicalRDD keeps the origin plan's stats — verified
    # here), so the stats-less source is an arrow-converted local frame.
    lc = mk(120_000).localCheckpoint()
    rc = mk(60_000).localCheckpoint()
    assert probe(lc, rc, keyed=False) == (True, 0)
    la = spark.createDataFrame(mk(120_000).toPandas())
    ra = spark.createDataFrame(mk(60_000).toPandas())
    assert probe(la, ra, keyed=False) == (True, 2)


def test_auto_detector_stats_failure_raises(spark):
    """strategy="auto" on large keyed inputs runs the detector's stats
    jobs while the join is built.  A stats job that fails must raise
    there, not silently build the direct plan: the input is broken, and
    a fallback pick would only defer (or hide) the failure."""
    from pyspark.sql import functions as F

    def mk(n):
        # the key column fails when evaluated, so the detector's
        # approx_count_distinct(keys) job fails; the plan itself is valid
        return spark.range(n).select(
            F.when(F.col("id") < 0, F.lit(1)).otherwise(
                F.raise_error(F.lit("stats boom"))).cast("long").alias("g"),
            F.col("id").cast("double").alias("start"),
            (F.col("id") + 0.5).alias("stop"))

    with pytest.raises(Exception, match="stats boom"):
        merge_intervals(mk(200_000), mk(100_000), on="g", how="inner",
                        left_start="start", left_stop="stop",
                        right_start="start", right_stop="stop",
                        strategy="auto")

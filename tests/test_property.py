"""Property-based differential tests (hypothesis): randomized inputs with
shrinking, against brute-force pandas oracles — the reference's seeded
random-matrix strategy (tests/util.py:296-416) upgraded with automatic
minimal counterexamples.  Example counts are kept small because every
example runs a Spark job."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import assume, given, settings, strategies as st

from catabra_pandas_spark import merge_asof, merge_intervals

from .conftest import to_sdf

_vals = st.sampled_from([0.0, 1.0, 1.5, 2.5, 4.0, 7.5, 10.0])
_keys = st.integers(min_value=0, max_value=2)

_left_rows = st.lists(st.tuples(_keys, _vals, _vals), min_size=0, max_size=12)
_right_rows = st.lists(st.tuples(_keys, _vals, _vals), min_size=0, max_size=8)
# with infinite endpoint VALUES, which the bucket strategy cannot explode
# into buckets and must pair through the plain keyed join instead
_vals_inf = st.sampled_from([float("-inf"), 0.0, 1.0, 1.5, 2.5, 4.0, 7.5,
                             10.0, float("inf")])
_left_rows_inf = st.lists(st.tuples(_keys, _vals_inf, _vals_inf),
                          min_size=0, max_size=12)
_right_rows_inf = st.lists(st.tuples(_keys, _vals_inf, _vals_inf),
                           min_size=0, max_size=8)


@settings(max_examples=12, deadline=None)
@given(left=_left_rows, right=_right_rows,
       inc=st.tuples(st.booleans(), st.booleans(), st.booleans(), st.booleans()))
def test_merge_intervals_inner_matches_bruteforce(spark, left, right, inc):
    ils, ilp, irs, irp = inc
    lpdf = pd.DataFrame(left, columns=["k", "a", "b"])
    rpdf = pd.DataFrame(right, columns=["k", "c", "d"])
    lsdf = spark.createDataFrame([(int(k), float(a), float(b)) for k, a, b in left],
                                 "k long, a double, b double")
    rsdf = spark.createDataFrame([(int(k), float(c), float(d)) for k, c, d in right],
                                 "k long, c double, d double")

    # brute-force oracle: cross join within key, then the overlap predicate
    # with empty-interval validity (reference merging.py:138-139, 434-455)
    merged = lpdf.merge(rpdf, on="k") if len(lpdf) and len(rpdf) else \
        pd.DataFrame(columns=["k", "a", "b", "c", "d"])

    def _valid(s, p, is_, ip):
        return (s <= p) if (is_ and ip) else (s < p)

    def _ok(r):
        if not _valid(r.a, r.b, ils, ilp) or not _valid(r.c, r.d, irs, irp):
            return False
        left_ok = (r.a <= r.d) if (ils and irp) else (r.a < r.d)
        right_ok = (r.c <= r.b) if (irs and ilp) else (r.c < r.b)
        return left_ok and right_ok

    exp = merged[[bool(_ok(r)) for r in merged.itertuples()]] if len(merged) else merged

    out = merge_intervals(
        lsdf, rsdf, on="k", how="inner",
        left_start="a", left_stop="b", right_start="c", right_stop="d",
        include_left_start=ils, include_left_stop=ilp,
        include_right_start=irs, include_right_stop=irp).toPandas()

    key = ["k", "a", "b", "c", "d"]
    got = sorted(map(tuple, out[key].values.tolist()))
    want = sorted(map(tuple, exp[key].values.tolist())) if len(exp) else []
    assert got == want


@settings(max_examples=12, deadline=None)
@given(left=_left_rows, right=_right_rows,
       direction=st.sampled_from(["backward", "forward", "nearest"]))
def test_merge_asof_matches_pandas(spark, left, right, direction):
    lpdf = pd.DataFrame([(k, a) for k, a, _ in left], columns=["k", "t"])
    rpdf = (pd.DataFrame([(k, c, d) for k, c, d in right], columns=["k", "t", "y"])
            .drop_duplicates(["k", "t"]))  # pandas tie-break is positional
    assume(len(lpdf) and len(rpdf))  # pandas merge_asof rejects empty frames

    exp = pd.merge_asof(lpdf.sort_values("t", kind="stable"),
                        rpdf.sort_values("t", kind="stable"),
                        on="t", by="k", direction=direction)
    out = merge_asof(to_sdf(spark, lpdf), to_sdf(spark, rpdf),
                     on="t", by="k", direction=direction).toPandas()

    def norm(df):
        return sorted(map(tuple, df[["k", "t", "y"]].fillna(-999.0).values.tolist()))

    assert norm(out) == norm(exp)


@settings(max_examples=10, deadline=None)
@given(left=_left_rows, right=_right_rows,
       direction=st.sampled_from(["backward", "forward", "nearest"]),
       tolerance=st.sampled_from([0.5, 1.5, 4.0]))
def test_merge_asof_tolerance_matches_pandas(spark, left, right, direction,
                                             tolerance):
    """tolerance under every direction vs pandas: matches farther than
    the tolerance null out AFTER the nearest-pick, not before (pandas
    contract) — the small value domain makes exactly-at-tolerance ties
    frequent."""
    lpdf = pd.DataFrame([(k, a) for k, a, _ in left], columns=["k", "t"])
    rpdf = (pd.DataFrame([(k, c, d) for k, c, d in right],
                         columns=["k", "t", "y"])
            .drop_duplicates(["k", "t"]))  # pandas tie-break is positional
    assume(len(lpdf) and len(rpdf))

    exp = pd.merge_asof(lpdf.sort_values("t", kind="stable"),
                        rpdf.sort_values("t", kind="stable"),
                        on="t", by="k", direction=direction,
                        tolerance=tolerance)
    out = merge_asof(to_sdf(spark, lpdf), to_sdf(spark, rpdf),
                     on="t", by="k", direction=direction,
                     tolerance=tolerance).toPandas()

    def norm(df):
        return sorted(map(tuple,
                          df[["k", "t", "y"]].fillna(-999.0).values.tolist()))

    assert norm(out) == norm(exp)


@settings(max_examples=8, deadline=None)
@given(obs=st.lists(st.tuples(_keys, _vals_inf, _vals), min_size=0,
                   max_size=14),
       wins=st.lists(st.tuples(_keys, _vals_inf, _vals_inf), min_size=1,
                     max_size=8),
       width=st.sampled_from([0.5, 3.0, 50.0]))
def test_resample_eav_bucket_matches_direct(spark, obs, wins, width):
    """resample_eav's bucket_width scale path vs the direct join under
    ADVERSARIAL widths (far below / near / far above the window spans) on
    random irregular windows — same count/sum/min/max per window
    required.  Windows with start > stop are empty by the join contract
    and still emit (count 0); ±inf observation times and window endpoints
    bypass the buckets."""
    from catabra_pandas_spark import resample_eav

    osdf = spark.createDataFrame(
        [(int(k), float(t), "x", float(v)) for k, t, v in obs],
        "entity long, timestamp double, attribute string, value double")
    wsdf = spark.createDataFrame(
        [(int(k), float(a), float(b)) for k, a, b in wins],
        "entity long, start double, stop double").distinct()
    kw = dict(entity_col="entity", time_col="timestamp",
              window_start_col="start", window_stop_col="stop",
              include_start=True, include_stop=True, regular=False,
              assume_unique_windows=True)
    agg = {"x": ["count", "sum", "min", "max"]}
    d = resample_eav(osdf, wsdf, agg, join_strategy="direct", **kw).toPandas()
    cols = sorted(d.columns)
    dref = d[cols].sort_values(cols).reset_index(drop=True)
    for alt in (dict(bucket_width=width), dict(join_strategy="sweep")):
        b = resample_eav(osdf, wsdf, agg, **alt, **kw).toPandas()
        assert sorted(b.columns) == cols
        pd.testing.assert_frame_equal(
            b[cols].sort_values(cols).reset_index(drop=True), dref,
            obj=str(alt))


@settings(max_examples=10, deadline=None)
@given(left=_left_rows, right=_right_rows,
       inc=st.tuples(st.booleans(), st.booleans(), st.booleans(), st.booleans()))
def test_merge_sweep_matches_direct(spark, left, right, inc):
    """strategy="sweep" (two-sweep overlap decomposition) produces exactly
    the direct join's match set on random small inputs with random
    inclusion flags — boundary ties are frequent by construction."""
    ils, ilp, irs, irp = inc
    lsdf = spark.createDataFrame([(int(k), float(a), float(b)) for k, a, b in left],
                                 "k long, a double, b double")
    rsdf = spark.createDataFrame([(int(k), float(c), float(d)) for k, c, d in right],
                                 "k long, c double, d double")
    kw = dict(on="k", how="inner", left_start="a", left_stop="b",
              right_start="c", right_stop="d",
              include_left_start=ils, include_left_stop=ilp,
              include_right_start=irs, include_right_stop=irp)
    d = merge_intervals(lsdf, rsdf, **kw).toPandas()
    s = merge_intervals(lsdf, rsdf, strategy="sweep", **kw).toPandas()
    cols = sorted(d.columns)
    assert sorted(s.columns) == cols
    a2 = s[cols].sort_values(cols).reset_index(drop=True)
    b2 = d[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a2, b2)


_etypes = st.sampled_from(["a", "b", "c", "x"])
_times = st.sampled_from([1.0, 2.0, 3.0, 4.0, 5.0, 6.0])
_events = st.lists(st.tuples(st.integers(min_value=0, max_value=3),
                             _times, _etypes),
                   min_size=0, max_size=16)


def _funnel_brute(rows, steps):
    """Greedy earliest-completion matcher, straight from the spec."""
    out = {}
    by_ent = {}
    for e, t, ty in rows:
        by_ent.setdefault(e, []).append((t, ty))
    for e, evs in by_ent.items():
        stage, last_t, t0 = 0, float("-inf"), None
        for t, ty in sorted(evs):
            if stage < len(steps) and ty == steps[stage] and \
                    (stage == 0 or t > last_t):
                if stage == 0:
                    t0 = t
                stage, last_t = stage + 1, t
        if stage >= 1:
            out[e] = (stage, stage == len(steps), t0,
                      last_t if stage == len(steps) else None)
    return out


@settings(max_examples=12, deadline=None)
@given(rows=_events)
def test_funnel_matches_bruteforce(spark, rows):
    from catabra_pandas_spark.operators.events import funnel

    steps = ["a", "b", "c"]
    pdf = pd.DataFrame(rows, columns=["entity", "timestamp", "event_type"])
    assume(len(pdf) == 0 or not pdf.duplicated(["entity", "timestamp"]).any())
    expect = _funnel_brute(rows, steps)
    if len(pdf) == 0:
        return
    got = {r.entity: (r.n_stages, r.converted, r.t_first, r.t_convert)
           for r in funnel(to_sdf(spark, pdf), steps).collect()}
    assert got == expect


def test_funnel_hot_entity_skew(spark):
    """One entity with 10^6 step events (the skew regime that OOMed the
    pre-r5 collect_list design): the k-chained-min-agg funnel must (a)
    keep collect_list out of the plan — per-task state stays O(1) in the
    entity's event count because every aggregation is a scalar min — and
    (b) produce the exact greedy-matching result for a deterministic
    cycling construction."""
    from pyspark.sql import functions as F

    from catabra_pandas_spark.operators.events import funnel

    n = 1_000_000
    types = F.array(F.lit("view"), F.lit("cart"), F.lit("purchase"))
    hot = (spark.range(n)
           .select(F.lit(0).alias("entity"),
                   F.col("id").cast("double").alias("timestamp"),
                   F.element_at(types, (F.col("id") % 3 + 1).cast("int"))
                   .alias("event_type")))
    # a second, cold entity that stalls after stage 1
    cold = spark.range(1).select(
        F.lit(1).alias("entity"), F.lit(5.0).alias("timestamp"),
        F.lit("view").alias("event_type"))
    df = hot.unionByName(cold)
    out = funnel(df, ["view", "cart", "purchase"])
    assert "collect_list" not in out._jdf.queryExecution().executedPlan().toString()
    rows = {r.entity: r for r in out.collect()}
    # hot: view@0, first cart after 0 is t=1, first purchase after 1 is t=2
    assert rows[0].n_stages == 3 and rows[0].converted
    assert rows[0].t_first == 0.0 and rows[0].t_convert == 2.0
    assert rows[1].n_stages == 1 and not rows[1].converted


@settings(max_examples=10, deadline=None)
@given(left=_left_rows_inf, right=_right_rows_inf,
       inc=st.tuples(st.booleans(), st.booleans(), st.booleans(),
                     st.booleans()),
       width=st.sampled_from([0.5, 2.0, 11.0]))
def test_merge_bucket_matches_direct(spark, left, right, inc, width):
    """strategy="bucket" (explode to width-W buckets, emit from the one
    bucket holding max(l_start, r_start)) completes the three-strategy
    equivalence matrix: its match set must equal the direct join's under
    random inclusion flags, bucket widths both narrower and wider than
    every interval, and ±inf endpoint values (paired by the plain keyed
    join, not bucketed)."""
    ils, ilp, irs, irp = inc
    lsdf = spark.createDataFrame([(int(k), float(a), float(b))
                                  for k, a, b in left],
                                 "k long, a double, b double")
    rsdf = spark.createDataFrame([(int(k), float(c), float(d))
                                  for k, c, d in right],
                                 "k long, c double, d double")
    kw = dict(on="k", how="inner", left_start="a", left_stop="b",
              right_start="c", right_stop="d",
              include_left_start=ils, include_left_stop=ilp,
              include_right_start=irs, include_right_stop=irp)
    d = merge_intervals(lsdf, rsdf, **kw).toPandas()
    b = merge_intervals(lsdf, rsdf, strategy="bucket", bucket_width=width,
                        **kw).toPandas()
    cols = sorted(d.columns)
    assert sorted(b.columns) == cols
    pd.testing.assert_frame_equal(
        b[cols].sort_values(cols).reset_index(drop=True),
        d[cols].sort_values(cols).reset_index(drop=True))


def _keep_oracle(left_rows, right_rows, how, keep):
    """Brute-force how x keep semantics (reference merging.py:728-787):
    per LEFT row pick min/max/both matches by the keep_by order; invalid
    or matchless left rows appear unmatched under left/outer; under outer
    a right row appears unmatched iff it is invalid or NO left row kept
    it (missing-row injection AFTER the keep reduction)."""
    rows, kept_rids = [], set()
    valid_r = [(k, c, d, i) for i, (k, c, d) in enumerate(right_rows)
               if c is not None and d is not None and c <= d]
    for (k, a, b) in left_rows:
        lvalid = a is not None and b is not None and a <= b
        ms = [(c, d, i) for (kk, c, d, i) in valid_r
              if lvalid and kk == k and a <= d and c <= b]
        if not ms:
            rows.append((k, a, b, None, None, None))
            continue
        first = min(ms, key=lambda t: t[2])
        last = max(ms, key=lambda t: t[2])
        picked = ([first] if keep == "first" else [last] if keep == "last"
                  else ([first] if first == last else [first, last]))
        for (c, d, i) in picked:
            kept_rids.add(i)
            rows.append((k, a, b, c, d, float(i)))
    if how == "outer":
        for i, (k, c, d) in enumerate(right_rows):
            rvalid = c is not None and d is not None and c <= d
            if rvalid and i in kept_rids:
                continue
            rows.append((k, None, None, c, d, float(i)))
    return rows


_dup_vals = st.sampled_from([0.0, 1.0, 2.0, 3.5, 5.0])
# None = missing endpoint -> empty interval, never matches, but the row
# still appears unmatched under its own side's how (reference
# merging.py:138-139)
_dup_vals_n = st.sampled_from([0.0, 1.0, 2.0, 3.5, 5.0, None])


@pytest.mark.parametrize("keep", ["first", "last", "both"])
@settings(max_examples=6, deadline=None)
@given(left=st.lists(st.tuples(_keys, _dup_vals_n, _dup_vals_n),
                     min_size=0, max_size=10),
       right=st.lists(st.tuples(_keys, _dup_vals_n, _dup_vals_n),
                      min_size=0, max_size=8),
       how=st.sampled_from(["left", "outer"]))
def test_merge_keep_matches_bruteforce(spark, keep, left, right, how):
    """how=left/outer x keep=first/last/both under DUPLICATE-CONTENT rows
    (the tiny value domain guarantees identical left rows, exercising the
    content-hash id collapse + multiplicity restore) AND null endpoints
    (empty intervals that must pass through unmatched) across ALL THREE
    strategies — the adversarial-identity surface the r9 sweep bug proved
    the registered oracle queries don't cover (VERDICT r9 #4).  keep_by
    is a unique right ordinal so the pick is total and the pandas oracle
    deterministic."""
    fl = lambda v: None if v is None else float(v)  # noqa: E731
    lsdf = spark.createDataFrame(
        [(int(k), fl(a), fl(b)) for k, a, b in left],
        "k long, a double, b double")
    rsdf = spark.createDataFrame(
        [(int(k), fl(c), fl(d), i)
         for i, (k, c, d) in enumerate(right)],
        "k long, c double, d double, rid long")
    nkey = lambda t: tuple((v is None, v if v is not None else 0.0)  # noqa: E731
                           for v in t)
    want = sorted(
        (tuple(None if v is None else round(float(v), 6) for v in t)
         for t in _keep_oracle(left, right, how, keep)), key=nkey)
    kw = dict(on="k", how=how, keep=keep, keep_by="rid",
              left_start="a", left_stop="b",
              right_start="c", right_stop="d")
    for strat in ({"strategy": "direct"}, {"strategy": "sweep"},
                  {"strategy": "bucket", "bucket_width": 2.0}):
        out = merge_intervals(lsdf, rsdf, **kw, **strat).toPandas()
        got = sorted(
            (tuple(None if pd.isna(v) else round(float(v), 6) for v in t)
             for t in out[["k", "a", "b", "c", "d", "rid"]]
             .itertuples(index=False, name=None)), key=nkey)
        assert got == want, f"{strat}: {got} != {want}"


@settings(max_examples=6, deadline=None)
@given(left=st.lists(st.tuples(_keys, _dup_vals, _dup_vals),
                     min_size=0, max_size=8),
       right=st.lists(st.tuples(_keys, _dup_vals, _dup_vals),
                      min_size=0, max_size=10),
       keep=st.sampled_from(["first", "last", "both"]))
def test_merge_keep_right_matches_bruteforce(spark, left, right, keep):
    """how="right" mirrors the keep reduction: the partition id is the
    RIGHT row, the keep_by order ranks LEFT matches (a unique left
    ordinal here), and unmatched/invalid right rows pass through.
    Duplicate-content RIGHT rows exercise the content-hash collapse on
    the mirrored side."""
    lsdf = spark.createDataFrame(
        [(int(k), float(a), float(b), i)
         for i, (k, a, b) in enumerate(left)],
        "k long, a double, b double, lid long")
    rsdf = spark.createDataFrame(
        [(int(k), float(c), float(d)) for k, c, d in right],
        "k long, c double, d double")
    # mirrored oracle: swap roles, then relabel columns back
    mirrored = _keep_oracle(right, [(k, a, b) for k, a, b in left],
                            "left", keep)
    want = sorted(
        (tuple(None if v is None else round(float(v), 6)
               for v in (k, a, b, c, d, lid))
         for (k, c, d, a, b, lid) in mirrored), key=lambda t: tuple(
            (v is None, v if v is not None else 0.0) for v in t))
    out = merge_intervals(
        lsdf, rsdf, on="k", how="right", keep=keep, keep_by="lid",
        left_start="a", left_stop="b",
        right_start="c", right_stop="d").toPandas()
    got = sorted(
        (tuple(None if pd.isna(v) else round(float(v), 6) for v in t)
         for t in out[["k", "a", "b", "c", "d", "lid"]]
         .itertuples(index=False, name=None)), key=lambda t: tuple(
            (v is None, v if v is not None else 0.0) for v in t))
    assert got == want, f"{got} != {want}"


@settings(max_examples=10, deadline=None)
@given(rows=st.lists(st.tuples(st.integers(min_value=0, max_value=1),
                               _vals, _vals), min_size=1, max_size=14),
       distance=st.sampled_from([0.0, 1.0, 3.0]),
       inclusive=st.booleans())
def test_group_intervals_matches_union_find(spark, rows, distance,
                                            inclusive):
    """group_intervals single-linkage clustering vs a brute-force
    union-find over the pairwise sweep gap.  Reference misc.py:125-257
    defines the linkage on SORT ORDER: for a pair sorted by (start,
    stop), gap = later.start - earlier.stop, merged iff gap <= distance
    (strict < for inclusive=False) — NOT the symmetric overlap formula,
    which disagrees for zero-length intervals sitting inside a longer
    one ([0,1.5] vs [1,1]: sweep gap -0.5 merges at distance 0, while
    max(s)-min(t) = 0 would not under inclusive=False)."""
    pdf = pd.DataFrame(rows, columns=["g", "s", "t"])
    pdf = pdf[pdf.s <= pdf.t].reset_index(drop=True)
    assume(len(pdf))
    sdf = spark.createDataFrame(
        [(int(g), float(s), float(t)) for g, s, t in
         pdf.itertuples(index=False)], "g long, s double, t double")
    out = (__import__("catabra_pandas_spark").group_intervals(
        sdf, group_by="g", start_col="s", stop_col="t",
        distance=distance, inclusive=inclusive,
        group_id_name="group_id")
        .toPandas())

    # brute force union-find per group
    import itertools
    parent = list(range(len(pdf)))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i, j in itertools.combinations(range(len(pdf)), 2):
        ri, rj = pdf.iloc[i], pdf.iloc[j]
        if ri.g != rj.g:
            continue
        first, later = sorted([(ri.s, ri.t), (rj.s, rj.t)])
        gap = later[0] - first[1]
        linked = gap <= distance if inclusive else gap < distance
        if linked:
            pi, pj = find(i), find(j)
            parent[pi] = pj
    comp = {}
    for i in range(len(pdf)):
        comp.setdefault(find(i), []).append(i)

    # compare PARTITIONS (class ids are arbitrary labels within a group)
    got = out.sort_values(["g", "s", "t"]).reset_index(drop=True)
    exp_sets = {frozenset((pdf.iloc[i].g, pdf.iloc[i].s, pdf.iloc[i].t)
                          for i in members)
                for members in comp.values()}
    got_sets = {frozenset(map(tuple, sub[["g", "s", "t"]].values.tolist()))
                for _, sub in got.groupby(["g", "group_id"])}
    # multisets of rows collapse to sets here; duplicates of one interval
    # always land in the same class on both sides, so set-compare is exact
    assert got_sets == exp_sets


@settings(max_examples=10, deadline=None)
@given(obs=st.lists(st.tuples(_keys, _vals, _vals,
                              st.sampled_from([None, -2.0, 1.0, 3.0])),
                    min_size=0, max_size=10),
       wins=st.lists(st.tuples(_keys, _vals, _vals),
                     min_size=1, max_size=6))
def test_resample_interval_matches_bruteforce(spark, obs, wins):
    """Duration-weighted resampling vs the spec formula computed row by
    row in Python: W_I = v * |W∩I| / |I| with the documented edge cases
    (null value -> 0; zero-length interval: 1 if its point lies in the
    CLOSED window else 0).  Windows and intervals share the boundary
    value pool, so closed-endpoint ties are constant traffic."""
    obs = [(k, min(a, b), max(a, b), v) for k, a, b, v in obs]
    wpdf = pd.DataFrame([(k, min(a, b), max(a, b)) for k, a, b in wins],
                        columns=["entity", "start", "stop"]).drop_duplicates()
    osdf = spark.createDataFrame(
        [(int(k), float(a), float(b), "x", v) for k, a, b, v in obs],
        "entity long, start double, stop double, attribute string, value double")
    wsdf = spark.createDataFrame(
        [(int(k), float(a), float(b)) for k, a, b in
         wpdf.itertuples(index=False)],
        "entity long, start double, stop double")
    from catabra_pandas_spark import resample_interval
    out = (resample_interval(osdf, wsdf, attributes=["x"],
                             window_start_col="start",
                             window_stop_col="stop")
           .toPandas().set_index(["entity", "start", "stop"]))
    # the sweep kernel must reproduce the same duration weights exactly
    # (it decomposes the overlap join differently, but the residual
    # weighting arithmetic is shared)
    out_sw = (resample_interval(osdf, wsdf, attributes=["x"],
                                window_start_col="start",
                                window_stop_col="stop",
                                join_strategy="sweep")
              .toPandas().set_index(["entity", "start", "stop"]))

    for k, ws, wp in wpdf.itertuples(index=False):
        total = 0.0
        for ok, a, b, v in obs:
            if ok != k or v is None:
                continue
            if a == b:
                frac = 1.0 if ws <= a <= wp else 0.0
            else:
                inter = min(b, wp) - max(a, ws)
                # closed endpoints: touching intervals overlap with
                # length 0 (contribute 0), disjoint ones are excluded
                frac = max(inter, 0.0) / (b - a) if inter >= 0 else 0.0
            total += v * frac
        got = float(out.loc[(k, ws, wp), "x"])
        assert abs(got - total) < 1e-9, (k, ws, wp, got, total)
        got_sw = float(out_sw.loc[(k, ws, wp), "x"])
        assert abs(got_sw - total) < 1e-9, ("sweep", k, ws, wp, got_sw,
                                            total)


@settings(max_examples=10, deadline=None)
@given(rows=st.lists(st.tuples(_keys, _vals,
                               st.sampled_from([None, 1.0, 2.0, 5.0])),
                     min_size=1, max_size=12))
def test_impute_linear_matches_pandas(spark, rows):
    """impute(method="linear") vs pandas positional interpolate per
    group — the reference contract is POSITION-based ("row index values
    are completely ignored", misc.py:720-721), so the oracle
    interpolates over row rank, not over t; interior gaps fill,
    leading/trailing nulls stay null."""
    # dedupe on the RAW tuples: pandas would coerce None -> NaN, and a
    # NaN smuggled into createDataFrame is a VALUE the engine must not
    # impute (null-vs-NaN contract; see tests/conftest.to_sdf)
    seen, uniq = set(), []
    for g, t, v in rows:
        if (g, t) not in seen:
            seen.add((g, t))
            uniq.append((g, t, v))
    pdf = pd.DataFrame(uniq, columns=["g", "t", "v"])
    sdf = spark.createDataFrame(
        [(int(g), float(t), None if v is None else float(v))
         for g, t, v in uniq],
        "g long, t double, v double")
    from catabra_pandas_spark import impute
    out = (impute(sdf, method="linear", columns="v", group_by="g",
                  order_by="t").toPandas()
           .sort_values(["g", "t"]).reset_index(drop=True))
    exp_parts = []
    for g, sub in pdf.sort_values(["g", "t"]).groupby("g"):
        s = sub["v"].astype(float).reset_index(drop=True)
        filled = s.interpolate(method="linear", limit_area="inside")
        exp_parts.append(pd.DataFrame(
            {"g": g, "t": sub["t"].values, "v": filled.values}))
    exp = (pd.concat(exp_parts).sort_values(["g", "t"])
           .reset_index(drop=True))
    assert len(out) == len(exp)
    for got_v, exp_v in zip(out["v"], exp["v"]):
        if pd.isna(exp_v):
            assert pd.isna(got_v)
        else:
            assert abs(got_v - exp_v) < 1e-9


@settings(max_examples=8, deadline=None)
@given(vecs=st.lists(
    st.lists(st.sampled_from([0.0, 1e-30, 0.5, -1.0, 3.25, -1e6, 1e12]),
             min_size=4, max_size=4),
    min_size=1, max_size=8))
def test_quantize_embeddings_invariants(spark, vecs):
    """int8 quantization invariants over adversarial magnitudes (1e-30
    .. 1e12 coordinates in one corpus): codes stay in [-127, 127], the
    max-|v| coordinate maps to exactly +/-127, per-coordinate
    reconstruction error is <= scale/2, and all-zero vectors get scale 0
    with all-zero codes."""
    import numpy as np

    from catabra_pandas_spark.pipeline import quantize_embeddings

    sdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    out = (quantize_embeddings(sdf, dim=4).toPandas()
           .set_index("vec_id").sort_index())
    for i, v in enumerate(vecs):
        v = np.asarray(v, dtype=float)
        scale = out.loc[i, "scale_q8"]
        codes = np.asarray(out.loc[i, "codes_q8"], dtype=np.int64)
        if not v.any():
            assert scale == 0.0 and (codes == 0).all()
            continue
        assert abs(scale - np.abs(v).max() / 127.0) < 1e-12 * np.abs(v).max()
        assert codes.min() >= -127 and codes.max() <= 127
        assert np.abs(codes).max() == 127
        assert np.abs(codes * scale - v).max() <= scale / 2 * (1 + 1e-12)


@settings(max_examples=10, deadline=None)
@given(rows=st.lists(st.tuples(_vals, _vals), min_size=1, max_size=10),
       band=st.sampled_from([(1, None), (2, None), (0, 0), (2, 3)]))
def test_combine_intervals_matches_coverage_scan(spark, rows, band):
    """combine_intervals (union / k-fold / gaps / bands) vs a brute-force
    coverage scan over the closed-endpoint event ordering (starts before
    stops at equal t — touching intervals combine).  The oracle walks
    the sorted event list and emits maximal constant-coverage runs
    clipped to [n_min, n_max]."""
    n_min, n_max = band
    ivs = [(min(a, b), max(a, b)) for a, b in rows]
    sdf = spark.createDataFrame([(float(a), float(b)) for a, b in ivs],
                                "start double, stop double")
    from catabra_pandas_spark import combine_intervals
    out = (combine_intervals(sdf, n_min=n_min, n_max=n_max)
           .toPandas().sort_values(["start", "stop"])
           .reset_index(drop=True))

    # brute force: coverage between consecutive event times
    pts = sorted({p for iv in ivs for p in iv})
    segs = []  # (lo, hi, coverage) for maximal in-band runs
    events = []
    for a, b in ivs:
        events.append((a, 0))   # start sorts before stop at equal t
        events.append((b, 1))
    events.sort()
    cov, cur = 0, None
    lo = None
    for t, kind in events:
        if cur is not None and t > cur:
            ok = cov >= n_min and (n_max is None or cov <= n_max)
            if ok and lo is None:
                lo = cur
            elif not ok and lo is not None:
                segs.append((lo, cur))
                lo = None
        cur = t
        cov += 1 if kind == 0 else -1
    if lo is not None:
        segs.append((lo, cur))
    # zero-length in-band islands are dropped on both sides: the k-fold
    # intersection of touching intervals ([0,1],[1,2], n_min=2) is the
    # single point [1,1], which the operator does not emit (verified) —
    # the oracle filters a < b to match
    exp = [(a, b) for a, b in segs if a < b]
    got = list(map(tuple, out[["start", "stop"]].values.tolist()))
    assert got == sorted(exp), (ivs, band, got, sorted(exp))


@settings(max_examples=10, deadline=None)
@given(rows=st.lists(st.tuples(_keys, _vals,
                               st.sampled_from([None, 1.0, 2.0, 9.0])),
                     min_size=1, max_size=12),
       fills=st.tuples(st.sampled_from([None, -1.0]),
                       st.sampled_from([None, 99.0])))
def test_prev_next_values_matches_pandas_shift(spark, rows, fills):
    """prev_next_values vs pandas groupby.shift with fill values, plus
    the is-first/is-last indicators (reference misc.py:439-641)."""
    pfill, nfill = fills
    seen, uniq = set(), []
    for g, t, v in rows:  # unique (g, t) so row order is well-defined
        if (g, t) not in seen:
            seen.add((g, t))
            uniq.append((g, t, v))
    sdf = spark.createDataFrame(
        [(int(g), float(t), None if v is None else float(v))
         for g, t, v in uniq],
        "g long, t double, v double")
    from catabra_pandas_spark import prev_next_values
    spec = {"v": {"prev_name": "pv", "next_name": "nv"}}
    if pfill is not None:
        spec["v"]["prev_fill"] = pfill
    if nfill is not None:
        spec["v"]["next_fill"] = nfill
    out = (prev_next_values(sdf, sort_by="t", columns=spec, group_by="g",
                            first_indicator_name="isf",
                            last_indicator_name="isl")
           .toPandas().sort_values(["g", "t"]).reset_index(drop=True))
    pdf = (pd.DataFrame(uniq, columns=["g", "t", "v"])
           .sort_values(["g", "t"]).reset_index(drop=True))
    gb = pdf.groupby("g")["v"]
    exp_pv, exp_nv = gb.shift(1), gb.shift(-1)
    if pfill is not None:
        # fill applies only where there IS no previous row, not where the
        # previous row's value is null
        first_mask = pdf.groupby("g").cumcount() == 0
        exp_pv = exp_pv.where(~first_mask, pfill)
    if nfill is not None:
        last_mask = (pdf.iloc[::-1].groupby("g").cumcount() == 0)[::-1]
        exp_nv = exp_nv.where(~last_mask.values, nfill)
    for col, exp in (("pv", exp_pv), ("nv", exp_nv)):
        for got_v, exp_v in zip(out[col], exp):
            if pd.isna(exp_v):
                assert pd.isna(got_v), (col, uniq, list(out[col]), list(exp))
            else:
                assert got_v == exp_v, (col, uniq, list(out[col]), list(exp))
    assert list(out["isf"]) == list(pdf.groupby("g").cumcount() == 0)
    assert list(out["isl"]) == list(
        (pdf.iloc[::-1].groupby("g").cumcount() == 0)[::-1])


@settings(max_examples=10, deadline=None)
@given(rows=st.lists(st.tuples(_keys,
                               st.sampled_from([None, 1.0, 2.0, 7.0])),
                     min_size=1, max_size=14),
       dropna=st.booleans())
def test_grouped_mode_matches_bruteforce(spark, rows, dropna):
    """grouped_mode vs a brute-force (count desc, value asc) scan with
    the documented null rules: dropna prefers any non-null (all-null
    groups yield (null, 0)); dropna=False lets null compete on
    frequency but lose ties (nulls-last sort)."""
    sdf = spark.createDataFrame(
        [(int(g), None if v is None else float(v)) for g, v in rows],
        "g long, v double")
    from catabra_pandas_spark import grouped_mode
    out = (grouped_mode(sdf, group_by="g", column="v", dropna=dropna)
           .toPandas().set_index("g").sort_index())
    from collections import Counter
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        cnt = Counter(vals)
        if dropna:
            nonnull = {k: c for k, c in cnt.items() if k is not None}
            if nonnull:
                best = min(nonnull.items(), key=lambda kv: (-kv[1], kv[0]))
            else:
                best = (None, 0)
        else:
            # null competes but loses ties: sort key (count desc,
            # is-null, value asc with None last)
            best = min(cnt.items(),
                       key=lambda kv: (-kv[1], kv[0] is None,
                                       kv[0] if kv[0] is not None else 0.0))
            best = (best[0], cnt[best[0]])
        got_m, got_c = out.loc[g, "mode"], out.loc[g, "count"]
        if best[0] is None:
            assert pd.isna(got_m), (g, vals, got_m, best)
        else:
            assert got_m == best[0], (g, vals, got_m, best)
        assert got_c == best[1], (g, vals, got_c, best)


@settings(max_examples=8, deadline=None)
@given(obs=st.lists(st.tuples(_keys, _vals, st.sampled_from(["a", "b"]),
                              _vals),
                    min_size=0, max_size=14),
       wins=st.lists(st.tuples(_keys, _vals, _vals), min_size=1,
                     max_size=5),
       inc=st.tuples(st.booleans(), st.booleans()))
def test_resample_eav_matches_pandas(spark, obs, wins, inc):
    """resample_eav (irregular windows, mixed agg vocabulary incl. an
    exact percentile and a rank) vs pandas computed per window from the
    spec: per-attribute filter to the [start, stop] band under the given
    inclusion flags, then Series aggregation.  Overlapping and
    duplicate-key windows are generated freely; size is 0-filled where
    other aggregations stay null."""
    incs, incp = inc
    # unique (entity, timestamp, attribute): equal-timestamp ties would
    # make the r-1 rank aggregation nondeterministic without tiebreak_col
    seen, uniq = set(), []
    for k, t, attr, v in obs:
        if (k, t, attr) not in seen:
            seen.add((k, t, attr))
            uniq.append((k, t, attr, v))
    obs = uniq
    wpdf = (pd.DataFrame([(k, min(a, b), max(a, b)) for k, a, b in wins],
                         columns=["entity", "start", "stop"])
            .drop_duplicates().reset_index(drop=True))
    osdf = spark.createDataFrame(
        [(int(k), float(t), attr, float(v)) for k, t, attr, v in obs],
        "entity long, timestamp double, attribute string, value double")
    wsdf = spark.createDataFrame(
        [(int(k), float(a), float(b)) for k, a, b in
         wpdf.itertuples(index=False)],
        "entity long, start double, stop double")
    from catabra_pandas_spark import resample_eav
    agg = {"a": ["sum", "median", "p25", "size"], "b": ["min", "r-1"]}
    out = (resample_eav(osdf, wsdf, agg, window_start_col="start",
                        window_stop_col="stop", include_start=incs,
                        include_stop=incp, regular=False)
           .toPandas().set_index(["entity", "start", "stop"]).sort_index())
    assert len(out) == len(wpdf)

    opdf = pd.DataFrame(obs, columns=["entity", "timestamp", "attribute",
                                      "value"])
    for k, ws, wp in wpdf.itertuples(index=False):
        if len(opdf):
            lo = opdf.timestamp >= ws if incs else opdf.timestamp > ws
            hi = opdf.timestamp <= wp if incp else opdf.timestamp < wp
            band = opdf[(opdf.entity == k) & lo & hi]
        else:
            band = opdf
        row = out.loc[(k, ws, wp)]
        a = band[band.attribute == "a"].sort_values("timestamp").value
        b = band[band.attribute == "b"].sort_values("timestamp").value
        checks = {
            "a_sum": a.sum() if len(a) else None,
            "a_median": a.median() if len(a) else None,
            "a_p25": a.quantile(0.25) if len(a) else None,
            "a_size": float(len(a)),
            "b_min": b.min() if len(b) else None,
            "b_r-1": b.iloc[-1] if len(b) else None,
        }
        for col, exp in checks.items():
            got = row[col]
            if exp is None:
                assert pd.isna(got), (col, k, ws, wp, got)
            else:
                assert abs(got - exp) < 1e-9, (col, k, ws, wp, got, exp)


@settings(max_examples=10, deadline=None)
@given(pts=st.lists(st.tuples(_keys, _vals), min_size=1, max_size=10),
       ivs=st.lists(st.tuples(_keys, _vals, _vals, st.integers(0, 50)),
                    min_size=0, max_size=10),
       inc=st.tuples(st.booleans(), st.booleans()),
       strategy=st.sampled_from(["direct", "sweep"]))
def test_find_containing_matches_bruteforce(spark, pts, ivs, inc,
                                            strategy):
    """find_containing_interval(which="both") vs a brute-force scan:
    min/max interval id over the containment predicate under random
    inclusion flags, -1 where nothing contains the point, on both the
    direct and sweep strategies."""
    incs, incp = inc
    ivs = [(k, min(a, b), max(a, b), i) for k, a, b, i in ivs]
    psdf = spark.createDataFrame([(int(k), float(p)) for k, p in pts],
                                 "g long, p double")
    isdf = spark.createDataFrame(
        [(int(k), float(a), float(b), int(i)) for k, a, b, i in ivs],
        "g long, start double, stop double, iid long")
    from catabra_pandas_spark import find_containing_interval
    out = (find_containing_interval(
        psdf, isdf, point_cols="p", which="both", group_by="g",
        interval_id="iid", include_start=incs, include_stop=incp,
        strategy=strategy).toPandas()
        .sort_values(["g", "p"]).reset_index(drop=True))

    def contains(a, b, p):
        lo = a <= p if incs else a < p
        hi = p <= b if incp else p < b
        return lo and hi

    exp = []
    for k, p in sorted(set(pts)):
        ids = [i for g2, a, b, i in ivs if g2 == k and contains(a, b, p)]
        exp.append((k, p, min(ids) if ids else -1,
                    max(ids) if ids else -1))
    got = [tuple(r) for r in
           out[["g", "p", "p__first", "p__last"]]
           .drop_duplicates().values.tolist()]
    assert sorted(got) == sorted((float(k), float(p), float(f), float(l))
                                 for k, p, f, l in exp), (pts, ivs, inc)


@settings(max_examples=8, deadline=None)
@given(rows=st.lists(st.tuples(_keys, _vals, st.integers(0, 99)),
                     min_size=1, max_size=16),
       k=st.integers(min_value=1, max_value=4),
       descending=st.booleans(),
       prefilter=st.booleans())
def test_grouped_topk_matches_pandas(spark, rows, k, descending,
                                     prefilter):
    """grouped_topk vs a pandas per-group sort on random inputs with
    frequent order-key TIES (tiny value pool), for both the window base
    plan and the Arrow map-side prefilter.  The tie-break column makes
    the expected rows unique, so the prefilter's soundness claim (a row
    beaten by >= k rows of its own group per batch is never global
    top-k) is checked exactly, not just by count."""
    from catabra_pandas_spark import grouped_topk

    pdf = (pd.DataFrame(rows, columns=["g", "v", "tb"])
           .drop_duplicates(["g", "v", "tb"]))
    sdf = spark.createDataFrame(
        [(int(g), float(v), int(t)) for g, v, t in
         pdf.itertuples(index=False)], "g long, v double, tb long")
    out = grouped_topk(sdf, "g", ["v", "tb"], k=k, descending=descending,
                       prefilter=prefilter).toPandas()
    exp_rows = []
    for g, grp in pdf.groupby("g"):
        s = grp.sort_values(["v", "tb"], ascending=not descending)
        exp_rows.append(s.head(k))
    exp = pd.concat(exp_rows, ignore_index=True)
    key = ["g", "v", "tb"]
    assert (sorted(map(tuple, out[key].values.tolist()))
            == sorted(map(tuple, exp[key].values.tolist())))


@settings(max_examples=8, deadline=None)
@given(left=st.lists(st.tuples(_keys, _vals), min_size=1, max_size=14),
       right=st.lists(st.tuples(_keys, _vals), min_size=0, max_size=10),
       sort=st.booleans())
def test_factorize_property(spark, left, right, sort):
    """factorize over two frames on random composite keys: ids are dense
    0..n-1, equal tuples share one id ACROSS frames, distinct tuples get
    distinct ids, and sort=True makes id order == key order."""
    from catabra_pandas_spark import factorize

    lsdf = spark.createDataFrame([(int(k), float(v)) for k, v in left],
                                 "a long, b double")
    rsdf = spark.createDataFrame([(int(k), float(v)) for k, v in right],
                                 "a long, b double") if right else None
    lf, rf = factorize(lsdf, ["a", "b"], right=rsdf,
                       right_columns=["a", "b"], sort=sort)
    lp = lf.toPandas()
    frames = [lp] + ([rf.toPandas()] if rf is not None else [])
    allp = pd.concat(frames, ignore_index=True)
    keys = sorted(set(map(tuple, allp[["a", "b"]].values.tolist())))
    ids = allp.groupby(["a", "b"])["__key__"].agg(["min", "max"])
    # one id per tuple, consistent across frames
    assert (ids["min"] == ids["max"]).all()
    # dense 0..n-1
    assert sorted(ids["min"]) == list(range(len(keys)))
    if sort:  # order-preserving: id order == key tuple order
        assert [tuple(t) for t in
                ids["min"].sort_values().index] == keys


@settings(max_examples=8, deadline=None)
@given(events=st.lists(st.tuples(st.integers(0, 4),
                                 st.integers(0, 70)),  # (entity, day)
                       min_size=1, max_size=20),
       period=st.sampled_from(["week", "month"]))
def test_retention_matches_bruteforce(spark, events, period):
    """Cohort retention vs a python replay of the spec: cohort = period
    of the entity's first event; (cohort, offset) counts distinct
    entities active offset whole periods later.  Random day offsets land
    on period boundaries constantly; month mode exercises the
    variable-length calendar arithmetic."""
    from catabra_pandas_spark import retention

    base = pd.Timestamp("2024-01-15")
    pdf = pd.DataFrame({
        "entity": [e for e, _ in events],
        "timestamp": pd.Series([base + pd.Timedelta(days=d)
                                for _, d in events],
                               dtype="datetime64[ns]")})
    out = retention(to_sdf(spark, pdf), period=period).toPandas()
    out["cohort"] = pd.to_datetime(out["cohort"])  # date -> Timestamp
    out = out.set_index(["cohort", "period_offset"]).n_active.sort_index()

    def trunc(ts):
        if period == "month":
            return ts.normalize().replace(day=1)
        return (ts - pd.Timedelta(days=ts.dayofweek)).normalize()

    def offset(c, p):
        if period == "month":
            return (p.year - c.year) * 12 + (p.month - c.month)
        return (p - c).days // 7

    per_entity = {}
    for e, d in events:
        per_entity.setdefault(e, set()).add(trunc(base + pd.Timedelta(days=d)))
    cells = {}
    for e, periods in per_entity.items():
        c = min(periods)
        for p in periods:
            cells[(c, offset(c, p))] = cells.get((c, offset(c, p)), 0) + 1
    exp = pd.Series(cells).sort_index()
    assert list(out.index) == list(exp.index)
    assert list(out) == list(exp)


@settings(max_examples=10, deadline=None)
@given(n_tokens=st.integers(min_value=0, max_value=40),
       max_tokens=st.integers(min_value=1, max_value=12),
       overlap=st.integers(min_value=0, max_value=11),
       seed=st.integers(min_value=0, max_value=999))
def test_chunk_documents_reconstruction(spark, n_tokens, max_tokens,
                                        overlap, seed):
    """Chunking invariants on random documents: chunk i covers tokens
    [i*stride, i*stride+max_tokens); dropping each chunk's leading
    ``overlap`` tokens (except chunk 0) and concatenating reconstructs
    the document exactly; token counts match; empty docs emit nothing."""
    from catabra_pandas_spark.pipeline import chunk_documents

    assume(overlap < max_tokens)
    toks = [f"w{seed}_{i}" for i in range(n_tokens)]
    text = " ".join(toks)
    sdf = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = (chunk_documents(sdf, max_tokens=max_tokens, overlap=overlap)
           .toPandas().sort_values("chunk_idx").reset_index(drop=True))
    if n_tokens == 0:
        assert len(out) == 0
        return
    stride = max_tokens - overlap
    rebuilt = []
    for r in out.itertuples():
        ctoks = r.chunk_text.split()
        start = int(r.chunk_idx) * stride
        assert ctoks == toks[start:start + max_tokens], r.chunk_idx
        assert r.n_chunk_tokens == len(ctoks)
        rebuilt.extend(ctoks if r.chunk_idx == 0 else ctoks[overlap:])
    assert rebuilt == toks


@settings(max_examples=8, deadline=None)
@given(events=st.lists(st.tuples(st.integers(0, 2),
                                 st.integers(0, 40)),  # (entity, minute)
                       min_size=1, max_size=18),
       gap_min=st.sampled_from([1, 5, 10]))
def test_sessionize_matches_gap_scan(spark, events, gap_min):
    """session_window clustering vs a python gap scan on random event
    times: session boundaries form wherever consecutive same-entity
    events are STRICTLY MORE than gap apart — Spark's session_window
    merges an event landing exactly at the session end (probed on this
    Spark version; the gap is INCLUSIVE) — with exact start/stop/count
    per session.  The minute domain makes exact-gap boundary events
    constant traffic."""
    from catabra_pandas_spark.streaming import stream_sessionize

    base = pd.Timestamp("2024-06-01")
    pdf = (pd.DataFrame({
        "entity": pd.Series([e for e, _ in events], dtype="int64"),
        "timestamp": pd.Series([base + pd.Timedelta(minutes=m)
                                for _, m in events],
                               dtype="datetime64[ns]"),
        "value": pd.Series([float(m) for _, m in events],
                           dtype="float64")})
        .drop_duplicates(["entity", "timestamp"]))
    out = (stream_sessionize(to_sdf(spark, pdf), f"{gap_min} minutes")
           .toPandas()
           .sort_values(["entity", "session_start"]).reset_index(drop=True))

    exp = []
    for e, grp in pdf.groupby("entity"):
        ts = sorted(grp.timestamp)
        cur = [ts[0]]
        for t in ts[1:]:
            if (t - cur[-1]) <= pd.Timedelta(minutes=gap_min):
                cur.append(t)
            else:
                exp.append((e, cur[0], cur[-1], len(cur)))
                cur = [t]
        exp.append((e, cur[0], cur[-1], len(cur)))
    exp = sorted(exp)
    got = [(r.entity, r.session_start, r.session_stop, r.n_events)
           for r in out.itertuples()]
    assert got == exp


_scores = st.sampled_from([0.0, 1.0, 1.0, 2.5, 2.5, 2.5, 4.0, 7.5, 10.0])
_bucket_rows = st.lists(st.tuples(st.integers(0, 2), _scores),
                        min_size=1, max_size=40)
_cut_sets = st.sampled_from([(1 / 3, 2 / 3), (0.05,), (0.25, 0.5, 0.75),
                             (0.5,)])


@settings(max_examples=12, deadline=None)
@given(rows=_bucket_rows, cuts=_cut_sets)
def test_quantile_buckets_matches_rank_rule(spark, rows, cuts):
    """quantile_buckets (r13) against a brute-force pandas replay of the
    type-1 rank rule on random group sizes, heavy tie densities and
    several cut lists: threshold = sorted group scores at index
    ceil(cut*n)-1, assignment by score <= threshold with ties in the
    lower bucket."""
    import math

    import numpy as np

    from catabra_pandas_spark.pipeline import quantile_buckets

    labels = [f"b{i}" for i in range(len(cuts) + 1)]
    pdf = pd.DataFrame(rows, columns=["g", "s"])
    sdf = spark.createDataFrame(
        [(int(g), float(s)) for g, s in rows], "g long, s double")
    got = (quantile_buckets(sdf, "s", group_by="g", cuts=cuts,
                            labels=labels)
           .toPandas().sort_values(["g", "s"]).reset_index(drop=True))

    for g, sub in pdf.groupby("g"):
        srt = np.sort(sub["s"].to_numpy())
        n = len(srt)
        thr = [srt[math.ceil(c * n) - 1] for c in cuts]
        gg = got[got["g"] == g]
        for _, row in gg.iterrows():
            exp = labels[-1]
            for i, t in enumerate(thr):
                if row["s"] <= t:
                    exp = labels[i]
                    break
            assert row["bucket"] == exp, (g, row["s"], thr)

from __future__ import annotations

import numpy as np
import pandas as pd

from catabra_pandas_spark import factorize, inner_or_cross_join
from .conftest import to_sdf


def test_factorize_dense_shared_ids(spark):
    rng = np.random.default_rng(31)
    left = pd.DataFrame({"a": rng.integers(0, 50, 400),
                         "b": rng.choice(["x", "y", "z"], 400)})
    right = pd.DataFrame({"a": rng.integers(25, 75, 300),
                          "b": rng.choice(["x", "y", "w"], 300)})
    lo, ro = factorize(to_sdf(spark, left), ["a", "b"],
                       right=to_sdf(spark, right), right_columns=["a", "b"])
    lp, rp = lo.toPandas(), ro.toPandas()
    both = pd.concat([lp, rp], ignore_index=True)
    # dense 0..n-1 over the union of distinct keys
    n_keys = both[["a", "b"]].drop_duplicates().shape[0]
    assert set(both["__key__"]) == set(range(n_keys))
    # equal keys -> equal ids across both frames (id is a function of the key)
    assert (both.groupby(["a", "b"])["__key__"].nunique() == 1).all()
    assert (both.groupby("__key__")[["a", "b"]].nunique() == 1).all().all()
    # deterministic: a second run assigns identical ids
    lo2, _ = factorize(to_sdf(spark, left), ["a", "b"],
                       right=to_sdf(spark, right), right_columns=["a", "b"])
    m = lp.merge(lo2.toPandas(), on=["a", "b"], suffixes=("_1", "_2"))
    assert (m["__key___1"] == m["__key___2"]).all()


def test_factorize_sorted(spark):
    left = pd.DataFrame({"k": ["c", "a", "b", "a", "c"]})
    lo, _ = factorize(to_sdf(spark, left), "k", sort=True)
    got = dict(lo.toPandas().drop_duplicates().values[:, :2])
    assert {k: int(v) for k, v in got.items()} == {"a": 0, "b": 1, "c": 2}


def test_ordered_dense_ids_distributed(spark):
    """util.ordered_dense_ids: 0-based consecutive, order-preserving over
    the key, stable across many range buckets (the distributed path that
    replaced single-partition sorts in factorize(sort=True) and the
    string-endpoint bucket-join dictionary)."""
    import numpy as np

    from catabra_pandas_spark.util import ordered_dense_ids

    rng = np.random.default_rng(41)
    vals = [f"k{v:05d}" for v in rng.choice(100_000, 5_000, replace=False)]
    df = to_sdf(spark, pd.DataFrame({"v": vals})).repartition(16)
    out = ordered_dense_ids(df, ["v"], "id").toPandas().sort_values("v")
    ids = out.id.to_numpy()
    assert ids.min() == 0 and ids.max() == len(vals) - 1
    assert (np.diff(ids) == 1).all()  # dense AND lexicographic order


def test_inner_or_cross(spark):
    l = to_sdf(spark, pd.DataFrame({"k": [1, 2], "x": [10, 20]}))
    r = to_sdf(spark, pd.DataFrame({"k": [1, 1, 3], "y": [5, 6, 7]}))
    assert inner_or_cross_join(l, r, on="k").count() == 2
    assert inner_or_cross_join(l, r.drop("k"), on="k").count() == 6


def test_grouped_topk(spark):
    import pandas as pd
    from catabra_pandas_spark import grouped_topk
    from .conftest import to_sdf

    pdf = pd.DataFrame({
        "g": [1, 1, 1, 1, 2, 2, 3],
        "v": [5.0, 3.0, 9.0, 9.0, 1.0, 2.0, 7.0],
        "t": [1, 2, 3, 4, 5, 6, 7],
    })
    df = to_sdf(spark, pdf)
    # k=2 descending with tie-break on t: g=1 -> (9.0,t4),(9.0,t3); g=2 -> (2,6),(1,5)
    out = grouped_topk(df, "g", ["v", "t"], k=2, descending=True, rank_col="rk")
    got = sorted((r.g, r.rk, r.v, r.t) for r in out.collect())
    assert got == [(1, 1, 9.0, 4), (1, 2, 9.0, 3),
                   (2, 1, 2.0, 6), (2, 2, 1.0, 5), (3, 1, 7.0, 7)]
    # prefilter path must agree exactly with the plain window path
    big = df.union(df).union(df)  # duplicate rows exercise batch pre-cuts
    a = sorted(map(tuple, grouped_topk(big, "g", ["v", "t"], k=3).collect()))
    b = sorted(map(tuple, grouped_topk(big, "g", ["v", "t"], k=3,
                                       prefilter=True).collect()))
    assert a == b
    # ascending k=1 is the per-group minimum
    mn = grouped_topk(df, "g", "v", k=1).select("g", "v").collect()
    assert sorted((r.g, r.v) for r in mn) == [(1, 3.0), (2, 1.0), (3, 7.0)]


def test_funnel_greedy_semantics(spark):
    import pandas as pd
    from catabra_pandas_spark.operators.events import funnel

    pdf = pd.DataFrame({
        "entity": [1, 1, 1, 2, 2, 3, 3, 3, 4, 5, 5, 5, 5],
        "timestamp": [1.0, 2.0, 3.0, 1.0, 5.0, 3.0, 2.0, 1.0, 9.0,
                      1.0, 1.0, 2.0, 2.0],
        "event_type": ["view", "click", "buy", "view", "click",
                       "buy", "click", "view", "click",
                       "view", "click", "click", "buy"],
    })
    sdf = spark.createDataFrame(pdf)
    out = {r.entity: (r.n_stages, r.converted, r.t_first, r.t_convert)
           for r in funnel(sdf, ["view", "click", "buy"]).collect()}
    # 1: view@1 -> click@2 -> buy@3, converted
    assert out[1] == (3, True, 1.0, 3.0)
    # 2: no buy
    assert out[2] == (2, False, 1.0, None)
    # 3: input order scrambled; sorted it is the full funnel
    assert out[3] == (3, True, 1.0, 3.0)
    # 4: never entered the funnel (no first step) -> absent
    assert 4 not in out
    # 5: click@1 is simultaneous with view@1 -> NOT after (strict);
    #    click@2 matches, buy@2 is NOT after click@2 -> 2 stages
    assert out[5] == (2, False, 1.0, None)
    # within: spans of 2.0 pass at 2.0, fail at 1.5
    w = {r.entity: r.converted
         for r in funnel(sdf, ["view", "click", "buy"], within=2.0).collect()}
    assert w[1] and w[3]
    w = {r.entity: r.converted
         for r in funnel(sdf, ["view", "click", "buy"], within=1.5).collect()}
    assert not w[1] and not w[3]


def test_funnel_timestamp_column(spark):
    import pandas as pd
    from catabra_pandas_spark.operators.events import funnel

    pdf = pd.DataFrame({
        "entity": [1, 1],
        "timestamp": pd.to_datetime(["2024-01-01 00:00:00",
                                     "2024-01-01 00:10:00"]),
        "event_type": ["view", "click"],
    })
    from tests.conftest import to_sdf
    out = funnel(to_sdf(spark, pdf), ["view", "click"],
                 within=700).collect()  # 600s gap <= 700s
    assert out[0].converted
    assert str(out[0].t_convert).startswith("2024-01-01 00:10")


def test_retention_cohorts(spark):
    import pandas as pd
    from catabra_pandas_spark.operators.events import retention

    pdf = pd.DataFrame({
        "entity": [1, 1, 1, 2, 2, 3],
        "timestamp": pd.to_datetime([
            "2024-01-01", "2024-01-08", "2024-01-22",   # cohort w0; w1; w3
            "2024-01-08", "2024-01-15",                 # cohort w1; w2
            "2024-01-01"]),                             # cohort w0 only
    })
    from tests.conftest import to_sdf
    out = retention(to_sdf(spark, pdf), period="week").toPandas()
    cells = {(str(r.cohort), r.period_offset): r.n_active
             for r in out.itertuples()}
    assert cells == {
        ("2024-01-01", 0): 2,   # entities 1 and 3
        ("2024-01-01", 1): 1,   # entity 1 active in w1
        ("2024-01-01", 3): 1,   # entity 1 active in w3
        ("2024-01-08", 0): 1,   # entity 2's cohort
        ("2024-01-08", 1): 1,   # entity 2 active the following week
    }
    # monthly cohorts go through calendar (not fixed-width) arithmetic
    out_m = retention(to_sdf(spark, pdf), period="month").toPandas()
    assert set(out_m.period_offset) == {0}


def test_plan_stats(spark, tmp_path):
    """Optimizer stats without execution: exact rowCount for known-sized
    plans, None (never zero) for parquet scans, sizeInBytes always
    present — the r13 auto-detector's skip-the-count-job gate."""
    from catabra_pandas_spark.util import plan_stats

    rc, sz = plan_stats(spark.range(12345))
    assert rc == 12345 and sz > 0

    p = str(tmp_path / "ps")
    spark.range(100).write.mode("overwrite").parquet(p)
    scan = spark.read.parquet(p)
    rc2, sz2 = plan_stats(scan)
    assert rc2 is None and sz2 > 0
    # filters don't shrink file-scan size stats: callers must treat the
    # number as an upper bound, not a post-filter estimate
    rc3, sz3 = plan_stats(scan.filter("id < 3"))
    assert rc3 is None and sz3 >= sz2 // 2


def test_materialization_gate(spark, tmp_path):
    """THE shared one-shot-materialization cost gate (funnel checkpoint,
    quantile rank path, ExactSubstr skew leg, r14): row count decides when
    the optimizer knows it; unknown row count falls through to the
    always-present size estimate — never treated as zero."""
    from catabra_pandas_spark.util import materialization_gate

    # known row counts: the row threshold decides
    assert not materialization_gate(spark.range(10))
    assert materialization_gate(spark.range(2_000_000))
    assert not materialization_gate(spark.range(2_000_000),
                                    row_threshold=3_000_000)
    # parquet scans carry no row count: the size estimate decides
    p = str(tmp_path / "mg")
    spark.range(1000).write.mode("overwrite").parquet(p)
    scan = spark.read.parquet(p)
    assert not materialization_gate(scan)          # a few KB << 32 MB
    assert materialization_gate(scan, size_threshold=1)

"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator of
``catabra_pandas_spark`` (SURVEY.md §2 inventory + the pipeline tier);
``oracle_sql()`` gives the DuckDB-equivalent SQL run on the same parquet
tables.  Column names and float rounding (6 dp) are aligned on both sides so
the driver's order-insensitive value-hash comparison can match exactly.

Conventions used throughout: timestamps are projected to epoch seconds
(orders/lineitem — second-granular) or epoch microseconds (events —
sub-second) as BIGINT on both engines; computed doubles are rounded to 6 dp.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

import catabra_pandas_spark as cps
import catabra_pandas_spark.pipeline as P
import catabra_pandas_spark.pipeline.sketches as SK
import catabra_pandas_spark.streaming as STRM
from catabra_pandas_spark.sources import read_table

DAY = 86400
WK_US = 7 * DAY * 1_000_000  # the weekly-window grid used by the resample queries


# --------------------------------------------------------------------------
# shared input shapes
# --------------------------------------------------------------------------

def _li(spark, sf):
    """Lineitem ship intervals: [shipdate, shipdate + quantity days]."""
    li = read_table(spark, sf, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lineno"),
        F.col("l_suppkey").alias("skey"),
        F.col("l_extendedprice").alias("price"),
        F.unix_timestamp(F.col("l_shipdate")).alias("s_start"),
        (F.unix_timestamp(F.col("l_shipdate"))
         + F.lit(DAY) * F.col("l_quantity").cast("long")).alias("s_stop"),
    )


_LI_SQL = """
    SELECT l_orderkey AS okey, l_linenumber AS lineno, l_suppkey AS skey,
           l_extendedprice AS price,
           epoch(l_shipdate)::BIGINT AS s_start,
           epoch(l_shipdate)::BIGINT + 86400 * l_quantity::BIGINT AS s_stop
    FROM lineitem
"""


def _ow(spark, sf):
    """Order windows: [orderdate, orderdate + 30 days]."""
    o = read_table(spark, sf, "orders")
    return o.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("ckey"),
        F.unix_timestamp(F.col("o_orderdate")).alias("w_start"),
        (F.unix_timestamp(F.col("o_orderdate")) + F.lit(30 * DAY)).alias("w_stop"),
    )


_OW_SQL = """
    SELECT o_orderkey AS okey, o_custkey AS ckey,
           epoch(o_orderdate)::BIGINT AS w_start,
           epoch(o_orderdate)::BIGINT + 30 * 86400 AS w_stop
    FROM orders
"""


def _ev(spark, sf):
    """Events with microsecond epoch + deterministic injected nulls."""
    e = read_table(spark, sf, "events")
    return e.select(
        F.col("event_id").alias("eid"),
        F.col("user_id").alias("uid"),
        F.col("event_type").alias("etype"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        F.when(F.col("event_type") != "error", F.col("value")).alias("val"),
    )


_EV_SQL = """
    SELECT event_id AS eid, user_id AS uid, event_type AS etype,
           epoch_us(ts)::BIGINT AS t,
           CASE WHEN event_type != 'error' THEN value END AS val
    FROM events
"""

_TOKS = ("list_filter(string_split_regex(trim(regexp_replace(lower(text),"
         "'[^a-z0-9 ]', ' ', 'g')), ' +'), x -> x != '')")


# --------------------------------------------------------------------------
# reference-parity queries
# --------------------------------------------------------------------------

def q_merge_overlap(spark, sf):
    """merge_intervals inner overlap join with equi-key (SURVEY §2.1 #1)."""
    out = cps.merge_intervals(
        _li(spark, sf), _ow(spark, sf), on="okey", how="inner",
        left_start="s_start", left_stop="s_stop",
        right_start="w_start", right_stop="w_stop")
    return out.select("okey", "lineno", "s_start", "s_stop", "w_start", "w_stop")


_Q_MERGE_OVERLAP_SQL = f"""
    SELECT l.okey, l.lineno, l.s_start, l.s_stop, o.w_start, o.w_stop
    FROM ({_LI_SQL}) l JOIN ({_OW_SQL}) o
      ON l.okey = o.okey AND l.s_start <= o.w_stop AND o.w_start <= l.s_stop
"""


def q_merge_overlap_sweep(spark, sf):
    """Same join as q_merge_overlap via the output-sensitive sort-sweep
    strategy (operators/sweep.py: two disjoint point-in-interval sweeps) —
    same oracle, so the driver gate certifies the sweep kernel too."""
    out = cps.merge_intervals(
        _li(spark, sf), _ow(spark, sf), on="okey", how="inner",
        left_start="s_start", left_stop="s_stop",
        right_start="w_start", right_stop="w_stop", strategy="sweep")
    return out.select("okey", "lineno", "s_start", "s_stop", "w_start", "w_stop")


def q_merge_auto_sweep(spark, sf):
    """Cost-based strategy="auto" on the FEW-LARGE-GROUPS shape (VERDICT
    r10 #3; reference precedent: the per-entity selector at reference
    resampling.py:1271-1281): lineitem ship intervals keyed by the
    3-value return flag joined to a deterministic 20% point sample.  The
    detector's n*m/G estimate blows past 1024*(n+m) (the regime where the
    direct SMJ is a measured 15x slower, scripts/bench_baseline.py t4),
    so auto compiles to the output-sensitive sweep — and the oracle is
    the plain join SQL, so the driver certifies the flipped plan's
    RESULTS, not just its shape (operators/merging.py:_auto_few_large_groups;
    plan identity vs strategy="sweep" is unit-tested in
    tests/test_merge_intervals.py::test_auto_strategy_cost_detector)."""
    li = read_table(spark, sf, "lineitem")
    left = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lineno"),
        F.unix_timestamp(F.col("l_shipdate")).alias("i_start"),
        (F.unix_timestamp(F.col("l_shipdate"))
         + F.lit(600) * F.col("l_quantity").cast("long")).alias("i_stop"))
    right = (li.filter(F.col("l_orderkey") % 5 == 0)
             .select(F.col("l_returnflag").alias("flag"),
                     F.col("l_orderkey").alias("pokey"),
                     F.col("l_linenumber").alias("plineno"),
                     F.unix_timestamp(F.col("l_shipdate")).alias("p")))
    out = cps.merge_intervals(
        left, right, on="flag", how="inner",
        left_start="i_start", left_stop="i_stop",
        right_start="p", right_stop="p")
    return out.select("flag", "okey", "lineno", "pokey", "plineno", "p")


_Q_MERGE_AUTO_SWEEP_SQL = """
    WITH l AS (
      SELECT l_returnflag AS flag, l_orderkey AS okey,
             l_linenumber AS lineno,
             epoch(l_shipdate)::BIGINT AS i_start,
             epoch(l_shipdate)::BIGINT + 600 * l_quantity::BIGINT AS i_stop
      FROM lineitem
    ), r AS (
      SELECT l_returnflag AS flag, l_orderkey AS pokey,
             l_linenumber AS plineno,
             epoch(l_shipdate)::BIGINT AS p
      FROM lineitem WHERE l_orderkey % 5 = 0
    )
    SELECT l.flag, l.okey, l.lineno, r.pokey, r.plineno, r.p
    FROM l JOIN r ON l.flag = r.flag
                 AND l.i_start <= r.p AND r.p <= l.i_stop
"""


def q_merge_open_endpoints(spark, sf):
    """Open/closed endpoint flags -> strict comparisons (merging.py:434-455)."""
    out = cps.merge_intervals(
        _li(spark, sf), _ow(spark, sf), on="okey", how="inner",
        left_start="s_start", left_stop="s_stop",
        right_start="w_start", right_stop="w_stop",
        include_left_start=False, include_right_stop=False)
    return out.select("okey", "lineno", "s_start", "w_stop")


_Q_MERGE_OPEN_SQL = f"""
    SELECT l.okey, l.lineno, l.s_start, o.w_stop
    FROM ({_LI_SQL}) l JOIN ({_OW_SQL}) o
      ON l.okey = o.okey AND l.s_start < o.w_stop AND o.w_start <= l.s_stop
"""


def q_merge_left_keep_first(spark, sf):
    """how=left + keep=first with deterministic keep_by."""
    out = cps.merge_intervals(
        _li(spark, sf), _ow(spark, sf).withColumnRenamed("okey", "rokey"),
        left_on=["okey"], right_on=["rokey"], how="left", keep="first",
        left_start="s_start", left_stop="s_stop",
        right_start="w_start", right_stop="w_stop", keep_by=["w_start", "rokey"])
    # lineitem rows are not globally unique -> compare content + multiplicity
    return out.groupBy("okey", "lineno", "s_start", "s_stop",
                       "w_start", "w_stop").agg(F.count(F.lit(1)).alias("n"))


_Q_MERGE_LEFT_FIRST_SQL = f"""
    WITH lid AS (
      SELECT okey, lineno, s_start, s_stop, count(*) AS n
      FROM ({_LI_SQL}) GROUP BY okey, lineno, s_start, s_stop
    ), m AS (
      SELECT l.okey, l.lineno, l.s_start, l.s_stop, l.n, o.w_start, o.w_stop,
             row_number() OVER (PARTITION BY l.okey, l.lineno, l.s_start, l.s_stop
                                ORDER BY o.w_start, o.okey) AS rn
      FROM lid l JOIN ({_OW_SQL}) o
        ON l.okey = o.okey AND l.s_start <= o.w_stop AND o.w_start <= l.s_stop
    )
    SELECT okey, lineno, s_start, s_stop, w_start, w_stop, n FROM m WHERE rn = 1
    UNION ALL
    SELECT l.okey, l.lineno, l.s_start, l.s_stop, NULL, NULL, l.n FROM lid l
    WHERE NOT EXISTS (
      SELECT 1 FROM ({_OW_SQL}) o
      WHERE l.okey = o.okey AND l.s_start <= o.w_stop AND o.w_start <= l.s_stop)
"""


def q_merge_keep_both(spark, sf):
    """keep="both": first AND last match per left row, deduplicated
    (reference merging.py:728-748), reduced with one min_by+max_by
    aggregation."""
    out = cps.merge_intervals(
        _li(spark, sf), _ow(spark, sf).withColumnRenamed("okey", "rokey"),
        left_on=["okey"], right_on=["rokey"], how="left", keep="both",
        left_start="s_start", left_stop="s_stop",
        right_start="w_start", right_stop="w_stop", keep_by=["w_start", "rokey"])
    # lineitem rows are not globally unique -> compare content + multiplicity
    return out.groupBy("okey", "lineno", "s_start", "s_stop",
                       "rokey", "w_start", "w_stop").agg(F.count(F.lit(1)).alias("n"))


_Q_MERGE_KEEP_BOTH_SQL = f"""
    WITH lid AS (
      SELECT okey, lineno, s_start, s_stop, count(*) AS n
      FROM ({_LI_SQL}) GROUP BY okey, lineno, s_start, s_stop
    ), m AS (
      SELECT l.okey, l.lineno, l.s_start, l.s_stop, l.n,
             o.okey AS rokey, o.w_start, o.w_stop,
             row_number() OVER (PARTITION BY l.okey, l.lineno, l.s_start, l.s_stop
                                ORDER BY o.w_start, o.okey) AS ra,
             row_number() OVER (PARTITION BY l.okey, l.lineno, l.s_start, l.s_stop
                                ORDER BY o.w_start DESC, o.okey DESC) AS rd
      FROM lid l JOIN ({_OW_SQL}) o
        ON l.okey = o.okey AND l.s_start <= o.w_stop AND o.w_start <= l.s_stop
    )
    SELECT okey, lineno, s_start, s_stop, rokey, w_start, w_stop, n
    FROM m WHERE ra = 1 OR rd = 1
    UNION ALL
    SELECT l.okey, l.lineno, l.s_start, l.s_stop, NULL, NULL, NULL, l.n FROM lid l
    WHERE NOT EXISTS (
      SELECT 1 FROM ({_OW_SQL}) o
      WHERE l.okey = o.okey AND l.s_start <= o.w_stop AND o.w_start <= l.s_stop)
"""


def q_merge_indexers(spark, sf):
    """return_indexers=True with user-supplied unique ids (reference
    merging.py:106-115): (order, lineitem-row) id pairs for the overlap
    join instead of the materialized frame; -1 marks unmatched lefts."""
    l = _ow(spark, sf)
    r = _li(spark, sf).select(
        (F.col("okey") * 10 + F.col("lineno")).alias("rid"),
        F.col("okey").alias("rokey"), "s_start", "s_stop")
    out = cps.merge_intervals(
        l, r, left_on=["okey"], right_on=["rokey"], how="left",
        left_start="w_start", left_stop="w_stop",
        right_start="s_start", right_stop="s_stop",
        left_id="okey", right_id="rid", return_indexers=True)
    return out.select(F.col("__left_row_id__").alias("lid"),
                      F.col("__right_row_id__").alias("rid"))


_Q_MERGE_INDEXERS_SQL = f"""
    WITH o AS ({_OW_SQL}),
         l AS (SELECT okey * 10 + lineno AS rid, okey, s_start, s_stop
               FROM ({_LI_SQL}))
    SELECT o.okey AS lid, l.rid AS rid
    FROM o JOIN l ON o.okey = l.okey
       AND o.w_start <= l.s_stop AND l.s_start <= o.w_stop
    UNION ALL
    SELECT o.okey AS lid, -1 AS rid FROM o
    WHERE NOT EXISTS (
      SELECT 1 FROM l WHERE o.okey = l.okey
        AND o.w_start <= l.s_stop AND l.s_start <= o.w_stop)
"""


def q_merge_str_intervals(spark, sf):
    """merge_intervals over STRING (lexicographic) endpoints: part names as
    point intervals, first-letter buckets from nation names as containing
    ranges (closing the dtype-matrix gap vs reference tests/util.py:377-416
    — arbitrary comparable dtypes, not just numeric/timestamp).  Keyless
    how="left": unmatched parts survive with null bucket."""
    part = read_table(spark, sf, "part").select(
        F.col("p_partkey").alias("pkey"),
        F.lower(F.col("p_name")).alias("pname"))
    nat = (read_table(spark, sf, "nation")
           .select(F.lower(F.substring(F.col("n_name"), 1, 1)).alias("lo"))
           .distinct()
           .withColumn("hi", F.concat(F.col("lo"), F.lit("~"))))
    out = cps.merge_intervals(
        part, nat, how="left",
        left_start="pname", left_stop="pname",
        right_start="lo", right_stop="hi")
    return out.select("pkey", "pname", "lo", "hi")


_Q_MERGE_STR_SQL = """
    WITH p AS (SELECT p_partkey AS pkey, lower(p_name) AS pname FROM part),
    i AS (SELECT DISTINCT lower(substr(n_name, 1, 1)) AS lo,
                 lower(substr(n_name, 1, 1)) || '~' AS hi
          FROM nation)
    SELECT p.pkey, p.pname, i.lo, i.hi
    FROM p LEFT JOIN i ON p.pname >= i.lo AND p.pname <= i.hi
"""


def q_merge_str_bucket(spark, sf):
    """STRING interval join on the LARGE-LARGE path: strategy="bucket"
    dictionary-encodes the distinct endpoint values into dense
    order-preserving codes (merging.py _bucket_join) and runs the bucket
    explode + equi-join on the codes — the plan is a shuffled equi-join
    on __bucket__, NOT the broadcast-nested-loop that string endpoints
    previously forced.  Same query semantics as q_merge_str_intervals
    (inner variant), so correctness is hash-checked against the plain
    range-predicate oracle."""
    part = read_table(spark, sf, "part").select(
        F.col("p_partkey").alias("pkey"),
        F.lower(F.col("p_name")).alias("pname"))
    nat = (read_table(spark, sf, "nation")
           .select(F.lower(F.substring(F.col("n_name"), 1, 1)).alias("lo"))
           .distinct()
           .withColumn("hi", F.concat(F.col("lo"), F.lit("~"))))
    out = cps.merge_intervals(
        part, nat, how="inner",
        left_start="pname", left_stop="pname",
        right_start="lo", right_stop="hi",
        strategy="bucket", bucket_width=8)
    return out.select("pkey", "pname", "lo", "hi")


_Q_MERGE_STR_BUCKET_SQL = """
    WITH p AS (SELECT p_partkey AS pkey, lower(p_name) AS pname FROM part),
    i AS (SELECT DISTINCT lower(substr(n_name, 1, 1)) AS lo,
                 lower(substr(n_name, 1, 1)) || '~' AS hi
          FROM nation)
    SELECT p.pkey, p.pname, i.lo, i.hi
    FROM p JOIN i ON p.pname >= i.lo AND p.pname <= i.hi
"""


def q_merge_date_intervals(spark, sf):
    """merge_intervals over DATE endpoints (dtype-matrix breadth, reference
    tests/util.py:377-416): each order's date (a DateType point interval)
    joined into its calendar-month [first_day, last_day] range.  The join
    comparisons run on DateType columns end-to-end; the output projects
    ints only so the hash compare is dtype-stable across engines."""
    orders = read_table(spark, sf, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("d"))
    months = (orders.select(
        F.to_date(F.date_trunc("month", F.col("d"))).alias("m_start"))
        .distinct()
        .withColumn("m_stop", F.last_day(F.col("m_start"))))
    out = cps.merge_intervals(
        orders, months, how="inner",
        left_start="d", left_stop="d",
        right_start="m_start", right_stop="m_stop")
    return out.select(
        "o_orderkey",
        F.year("m_start").cast("int").alias("y"),
        F.month("m_start").cast("int").alias("m"))


_Q_MERGE_DATE_SQL = """
    SELECT o_orderkey,
           year(o_orderdate)::INT AS y,
           month(o_orderdate)::INT AS m
    FROM orders
"""


def q_merge_timedelta_intervals(spark, sf):
    """merge_intervals over DAY-TIME INTERVAL endpoints (the reference
    grid's timedelta dtype): lineitem quantities become duration points
    (make_dt_interval seconds), bucketed into 5-second duration ranges
    [b*5, (b+1)*5) — every comparison runs on DayTimeIntervalType; the
    output projects ints so the hash compare is dtype-stable."""
    li = read_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
                           F.col("l_quantity")).alias("dur"))
    buckets = spark.range(11).select(
        F.col("id").cast("int").alias("bucket"),
        F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
                           (F.col("id") * 5).cast("double")).alias("b_start"),
        F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
                           ((F.col("id") + 1) * 5).cast("double")).alias("b_stop"))
    out = cps.merge_intervals(
        li, buckets, how="inner",
        left_start="dur", left_stop="dur",
        right_start="b_start", right_stop="b_stop",
        include_right_stop=False)
    return out.select("l_orderkey", "l_linenumber", "bucket")


_Q_MERGE_TIMEDELTA_SQL = """
    SELECT l_orderkey, l_linenumber, floor(l_quantity / 5)::INT AS bucket
    FROM lineitem WHERE l_quantity < 55
"""


def q_merge_date_bucket(spark, sf):
    """DATE interval join on the LARGE-LARGE path: same semantics as
    q_merge_date_intervals, but strategy="bucket" (width = 10 days in
    epoch seconds) routes through _bucket_join's shared numeric_double
    epoch coercion (util.py) — the shuffled __bucket__ equi-join, NOT the
    broadcast-nested-loop the direct plan uses for date endpoints.  This
    certifies the only strategy that survives large x large at 100 TB on
    the time-typed endpoints medical data actually uses (reference dtype
    grid: tests/util.py:377-416)."""
    orders = read_table(spark, sf, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("d"))
    months = (orders.select(
        F.to_date(F.date_trunc("month", F.col("d"))).alias("m_start"))
        .distinct()
        .withColumn("m_stop", F.last_day(F.col("m_start"))))
    out = cps.merge_intervals(
        orders, months, how="inner",
        left_start="d", left_stop="d",
        right_start="m_start", right_stop="m_stop",
        strategy="bucket", bucket_width=10 * 86400.0)
    return out.select(
        "o_orderkey",
        F.year("m_start").cast("int").alias("y"),
        F.month("m_start").cast("int").alias("m"))


def q_merge_timedelta_bucket(spark, sf):
    """DAY-TIME INTERVAL endpoints on the bucket (large-large) path: same
    semantics as q_merge_timedelta_intervals, strategy="bucket" with a
    7-second width chosen to MISALIGN with the 5-second duration ranges,
    so matches routinely span bucket boundaries and the single-anchor
    dedup rule is exercised.  DayTimeIntervalType coerces to exact total
    seconds (exact_numeric_double, util.py), which is monotone; the
    exact comparisons run on the original interval columns as the
    residual predicate."""
    li = read_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
                           F.col("l_quantity")).alias("dur"))
    buckets = spark.range(11).select(
        F.col("id").cast("int").alias("bucket"),
        F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
                           (F.col("id") * 5).cast("double")).alias("b_start"),
        F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
                           ((F.col("id") + 1) * 5).cast("double")).alias("b_stop"))
    out = cps.merge_intervals(
        li, buckets, how="inner",
        left_start="dur", left_stop="dur",
        right_start="b_start", right_stop="b_stop",
        include_right_stop=False,
        strategy="bucket", bucket_width=7.0)
    return out.select("l_orderkey", "l_linenumber", "bucket")


# urgency-ASCENDING order — the REVERSE of the lexicographic string
# order, so a lexicographic shortcut would produce different bands
_PRIORITY_ORDER = ["5-LOW", "4-NOT SPECIFIED", "3-MEDIUM", "2-HIGH",
                   "1-URGENT"]


def q_merge_cat_intervals(spark, sf):
    """merge_intervals over ORDERED-CATEGORICAL endpoints — the last row
    of the reference dtype grid (tests/util.py:377-416).  Pandas ordered
    categoricals map to StringType here (SURVEY §1.2); the dtype's
    ordering is restored by encode_ordered_categories (a literal JVM
    lookup, no shuffle), and the interval join runs on the dense codes
    via the same strategy="bucket" equi-join machinery as
    merge_str_bucket.  o_orderpriority is ordered by URGENCY (the reverse
    of its lexicographic order); both the left points and the right band
    endpoints are category VALUES that only become comparable through
    the dictionary encode."""
    orders = read_table(spark, sf, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("prio"))
    orders = cps.encode_ordered_categories(orders, "prio", _PRIORITY_ORDER,
                                           out_col="pcode")
    bands = spark.createDataFrame(
        [("routine", "5-LOW", "3-MEDIUM"), ("expedite", "2-HIGH", "1-URGENT")],
        "band string, lo_cat string, hi_cat string")
    bands = cps.encode_ordered_categories(bands, "lo_cat", _PRIORITY_ORDER,
                                          out_col="lo")
    bands = cps.encode_ordered_categories(bands, "hi_cat", _PRIORITY_ORDER,
                                          out_col="hi")
    out = cps.merge_intervals(
        orders, bands.select("band", "lo", "hi"), how="inner",
        left_start="pcode", left_stop="pcode",
        right_start="lo", right_stop="hi",
        strategy="bucket", bucket_width=2)
    return out.select("o_orderkey", "prio", "band")


_Q_MERGE_CAT_SQL = """
    SELECT o_orderkey, o_orderpriority AS prio,
           CASE WHEN o_orderpriority IN ('5-LOW', '4-NOT SPECIFIED',
                                         '3-MEDIUM')
                THEN 'routine' ELSE 'expedite' END AS band
    FROM orders
"""


def q_merge_asof(spark, sf):
    """As-of join (operators/asof.py): for every click event, the value of
    the user's most recent purchase within the preceding 7 days — the
    dedicated pd.merge_asof-style API for the keep="last" interval pattern
    (reference merging.py:92-98).  One shuffle, no join: union + window
    sweep.  DuckDB oracle: native ASOF LEFT JOIN + tolerance post-filter."""
    ev = _ev(spark, sf)
    clicks = ev.filter(F.col("etype") == "click").select("eid", "uid", "t")
    purchases = (ev.filter((F.col("etype") == "purchase") & F.col("val").isNotNull())
                 .groupBy("uid", "t").agg(F.max("val").alias("pval")))
    out = cps.merge_asof(clicks, purchases, on="t", by="uid",
                         direction="backward", tolerance=7 * DAY * 1e6)
    return out.select("eid", "uid", "t", F.round("pval", 6).alias("pval"))


_Q_MERGE_ASOF_SQL = f"""
    WITH l AS (SELECT eid, uid, t FROM ({_EV_SQL}) WHERE etype = 'click'),
    r AS (SELECT uid, t, max(val) AS pval FROM ({_EV_SQL})
          WHERE etype = 'purchase' AND val IS NOT NULL GROUP BY uid, t)
    SELECT l.eid, l.uid, l.t,
           CASE WHEN l.t - r.t <= 604800000000::BIGINT THEN round(r.pval, 6) END AS pval
    FROM l ASOF LEFT JOIN r ON l.uid = r.uid AND l.t >= r.t
"""


def q_merge_asof_timedelta(spark, sf):
    """As-of join on a DAY-TIME INTERVAL key (the r12 dtype leg:
    reference contract 'anything comparable',
    /root/reference/catabra_pandas/resampling.py:45-47): lineitem rows
    become durations quantity + linenumber/10 SECONDS (sub-second
    fractions exercise exact_numeric_double's field-extraction math —
    the truncating bigint cast would move them), matched backward to a
    2.5-second checkpoint grid per returnflag within a
    datetime.timedelta(seconds=2.05) tolerance.  2.05 dodges the 0.1
    quantized distance lattice by 0.05 on both sides, so the verdicts
    are exact cross-engine; x.5 durations land exactly ON grid points
    (both representable), exercising allow_exact ties bit-identically.
    Output is all-integer."""
    import datetime

    li = read_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_returnflag").alias("flag"),
        F.make_dt_interval(
            F.lit(0), F.lit(0), F.lit(0),
            F.col("l_quantity").cast("double")
            + F.col("l_linenumber").cast("double") / 10).alias("dur"))
    grid = spark.createDataFrame(
        [(f, i) for f in ("A", "N", "R") for i in range(21)],
        "flag string, chk int")
    grid = grid.select(
        "flag", "chk",
        F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
                           F.col("chk") * 2.5).alias("dur"))
    out = cps.merge_asof(li, grid, on="dur", by="flag",
                         direction="backward",
                         tolerance=datetime.timedelta(seconds=2.05))
    return out.select("l_orderkey", "l_linenumber", "flag", "chk")


_Q_MERGE_ASOF_TIMEDELTA_SQL = """
    WITH l AS (
      SELECT l_orderkey, l_linenumber, l_returnflag AS flag,
             l_quantity::DOUBLE + l_linenumber::DOUBLE / 10 AS dur_s
      FROM lineitem
    ), g AS (
      SELECT f.flag, r.range::INT AS chk, r.range * 2.5 AS chk_s
      FROM (SELECT unnest(['A', 'N', 'R']) AS flag) f, range(21) r
    )
    SELECT l.l_orderkey, l.l_linenumber, l.flag,
           CASE WHEN l.dur_s - g.chk_s <= 2.05 THEN g.chk END AS chk
    FROM l ASOF LEFT JOIN g ON l.flag = g.flag AND l.dur_s >= g.chk_s
"""


def q_bucket_range_join(spark, sf):
    """T3 analogue (BASELINE.md: pure inequality, NO equi-keys): keyless
    interval-overlap join with strategy="bucket" — intervals explode into
    30-day buckets, equi-join on the bucket id, residual exact predicate,
    pair dedup.  This is the large x large plan that replaces the O(n*m)
    broadcast nested loop."""
    l = (_li(spark, sf)
         .filter((F.col("lineno") == 1) & (F.col("okey") % 8 == 0))
         .select("okey", "lineno", "s_start", "s_stop"))
    r = (_ow(spark, sf).filter(F.col("okey") % 37 == 0)
         .select(F.col("okey").alias("rokey"), "w_start", "w_stop"))
    out = cps.merge_intervals(
        l, r, how="inner",
        left_start="s_start", left_stop="s_stop",
        right_start="w_start", right_stop="w_stop",
        strategy="bucket", bucket_width=float(30 * DAY))
    return out.select("okey", "lineno", "rokey", "w_start")


_Q_BUCKET_RANGE_SQL = f"""
    WITH l AS (SELECT okey, lineno, s_start, s_stop FROM ({_LI_SQL})
               WHERE lineno = 1 AND okey % 8 = 0),
         r AS (SELECT okey AS rokey, w_start, w_stop FROM ({_OW_SQL})
               WHERE okey % 37 = 0)
    SELECT l.okey, l.lineno, r.rokey, r.w_start
    FROM l JOIN r ON l.s_start <= r.w_stop AND r.w_start <= l.s_stop
"""


def q_find_containing(spark, sf):
    """find_containing_interval (SURVEY §2.1 #2): first/last window per point."""
    points = _li(spark, sf).select("okey", "lineno", F.col("s_start").alias("p"))
    ivls = _ow(spark, sf).select("okey", "w_start", "w_stop",
                                 F.col("okey").alias("iid"))
    out = cps.find_containing_interval(
        points, ivls, point_cols="p", which="both",
        start_col="w_start", stop_col="w_stop", group_by="okey", interval_id="iid")
    # lineitem rows are not globally unique -> compare content + multiplicity
    return out.groupBy("okey", "lineno", "p", "p__first", "p__last").agg(
        F.count(F.lit(1)).alias("n"))


def q_find_containing_sweep(spark, sf):
    """q_find_containing via the sort-sweep kernel (strategy pass-through):
    same oracle, so the sweep's point-in-interval reduction is certified
    end-to-end under the driver gate too."""
    points = _li(spark, sf).select("okey", "lineno", F.col("s_start").alias("p"))
    ivls = _ow(spark, sf).select("okey", "w_start", "w_stop",
                                 F.col("okey").alias("iid"))
    out = cps.find_containing_interval(
        points, ivls, point_cols="p", which="both",
        start_col="w_start", stop_col="w_stop", group_by="okey",
        interval_id="iid", strategy="sweep")
    return out.groupBy("okey", "lineno", "p", "p__first", "p__last").agg(
        F.count(F.lit(1)).alias("n"))


_Q_FIND_CONTAINING_SQL = f"""
    WITH pts AS (
      SELECT okey, lineno, s_start AS p, count(*) AS n
      FROM ({_LI_SQL}) GROUP BY okey, lineno, s_start
    )
    SELECT p.okey, p.lineno, p.p,
           COALESCE(min(o.okey), -1) AS p__first,
           COALESCE(max(o.okey), -1) AS p__last,
           p.n
    FROM pts p LEFT JOIN ({_OW_SQL}) o
      ON p.okey = o.okey AND o.w_start <= p.p AND p.p <= o.w_stop
    GROUP BY p.okey, p.lineno, p.p, p.n
"""


def q_group_intervals(spark, sf):
    """group_intervals (SURVEY §2.1 #6): cluster ship intervals per supplier,
    gap > 2 days starts a new cluster; report per-cluster stats."""
    gi = cps.group_intervals(_li(spark, sf), group_by="skey",
                             start_col="s_start", stop_col="s_stop",
                             distance=2 * DAY)
    return gi.groupBy("skey", "interval_group").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("s_start").alias("g_start"),
        F.max("s_stop").alias("g_stop"))


_Q_GROUP_INTERVALS_SQL = f"""
    WITH s AS (
      SELECT skey, s_start, s_stop,
             max(s_stop) OVER (PARTITION BY skey ORDER BY s_start, s_stop
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
      FROM ({_LI_SQL})
    ), f AS (
      SELECT skey, s_start, s_stop,
             CASE WHEN runmax IS NULL OR s_start - runmax > 2*86400 THEN 1 ELSE 0 END AS newgrp
      FROM s
    ), g AS (
      SELECT skey, s_start, s_stop,
             CAST(sum(newgrp) OVER (PARTITION BY skey ORDER BY s_start, s_stop
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                  AS BIGINT) AS interval_group
      FROM f
    )
    SELECT skey, interval_group, count(*) AS n_rows,
           min(s_start) AS g_start, max(s_stop) AS g_stop
    FROM g GROUP BY skey, interval_group
"""


def q_group_intervals_ts(spark, sf):
    """group_intervals on RAW timestamp columns (no pre-conversion):
    exercises the time-like endpoint path (epoch-seconds comparison
    domain) against the driver gate; output projected to epoch seconds
    for the engine-neutral hash compare."""
    li = read_table(spark, sf, "lineitem")
    iv = li.select(
        F.col("l_suppkey").alias("skey"),
        F.col("l_shipdate").alias("ship_start"),
        (F.col("l_shipdate")
         + F.make_dt_interval(days=F.col("l_quantity").cast("int"))).alias("ship_stop"))
    gi = cps.group_intervals(iv, group_by="skey",
                             start_col="ship_start", stop_col="ship_stop",
                             distance=2 * DAY)
    return gi.groupBy("skey", "interval_group").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(F.unix_timestamp("ship_start")).alias("g_start"),
        F.max(F.unix_timestamp("ship_stop")).alias("g_stop"))


# identical clustering to group_intervals (the epoch-seconds domain is the
# same), so the oracle is the epoch formulation
_Q_GROUP_INTERVALS_TS_SQL = _Q_GROUP_INTERVALS_SQL


def q_group_intervals_keyless(spark, sf):
    """KEYLESS group_intervals — global single-linkage sessionization of the
    whole events timeline with no entity key.  Exercises the distributed
    two-pass chunked merge (operators/intervals.py): range-chunk by start,
    per-chunk islands, carry stitched via prefix max; the DuckDB oracle is
    the classic single-pass gap-and-island, so chunk stitching must be
    value-exact."""
    e = _ev(spark, sf).select("eid", "t")
    out = cps.group_intervals(e, point_col="t", distance=600_000_000)  # 10 min
    return out.select("eid", "t", F.col("interval_group").alias("grp"))


_Q_GROUP_KEYLESS_SQL = f"""
    WITH e AS ({_EV_SQL}),
    m AS (SELECT eid, t,
                 max(t) OVER (ORDER BY t, eid
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
          FROM e),
    f AS (SELECT eid, t,
                 CASE WHEN rm IS NULL OR t - rm > 600000000 THEN 1 ELSE 0 END AS brk
          FROM m)
    SELECT eid, t,
           (sum(brk) OVER (ORDER BY t, eid ROWS UNBOUNDED PRECEDING) - 1)::BIGINT AS grp
    FROM f
"""


def _combine_sql(n_min: int, n_max) -> str:
    band = f"cov >= {n_min}" + (f" AND cov <= {n_max}" if n_max is not None else "")
    return f"""
    WITH ev AS (
      SELECT skey, s_start AS t, 1 AS delta, 0 AS tag FROM ({_LI_SQL})
      UNION ALL
      SELECT skey, s_stop AS t, -1 AS delta, 1 AS tag FROM ({_LI_SQL})
    ), seg AS (
      SELECT skey, t,
             sum(delta) OVER w AS cov,
             lead(t) OVER w AS seg_stop
      FROM ev
      WINDOW w AS (PARTITION BY skey ORDER BY t, tag
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), pos AS (
      SELECT skey, t, seg_stop, cov, ({band}) AS in_band
      FROM seg WHERE seg_stop IS NOT NULL AND seg_stop > t
    ), pos2 AS (
      SELECT skey, t, seg_stop, in_band,
             coalesce(lag(in_band) OVER (PARTITION BY skey ORDER BY t), false)
               AS prev_in
      FROM pos
    ), isl AS (
      SELECT skey, t, seg_stop, in_band,
             sum(CASE WHEN in_band AND NOT prev_in THEN 1 ELSE 0 END)
             OVER (PARTITION BY skey ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM pos2
    )
    SELECT skey, min(t) AS c_start, max(seg_stop) AS c_stop
    FROM isl WHERE in_band GROUP BY skey, island
    """


def q_combine_union(spark, sf):
    """combine_intervals n_min=1 => per-supplier union (SURVEY §2.1 #7)."""
    out = cps.combine_intervals(_li(spark, sf), start_col="s_start",
                                stop_col="s_stop", group_by="skey", n_min=1)
    return out.select("skey", F.col("s_start").alias("c_start"),
                      F.col("s_stop").alias("c_stop"))


def q_combine_k3(spark, sf):
    """combine_intervals n_min=3 => 3-fold overlap regions."""
    out = cps.combine_intervals(_li(spark, sf), start_col="s_start",
                                stop_col="s_stop", group_by="skey", n_min=3)
    return out.select("skey", F.col("s_start").alias("c_start"),
                      F.col("s_stop").alias("c_stop"))


def q_combine_gaps(spark, sf):
    """combine_intervals n_min=n_max=0 => coverage gaps."""
    out = cps.combine_intervals(_li(spark, sf), start_col="s_start",
                                stop_col="s_stop", group_by="skey",
                                n_min=0, n_max=0)
    return out.select("skey", F.col("s_start").alias("c_start"),
                      F.col("s_stop").alias("c_stop"))


def q_grouped_mode(spark, sf):
    """grouped_mode (SURVEY §2.1 #8): modal order priority per customer."""
    o = read_table(spark, sf, "orders")
    return cps.grouped_mode(o, group_by="o_custkey", column="o_orderpriority",
                            mode_name="mode", count_name="count")


_Q_GROUPED_MODE_SQL = """
    WITH c AS (
      SELECT o_custkey, o_orderpriority, count(*) AS cnt
      FROM orders GROUP BY o_custkey, o_orderpriority
    ), r AS (
      SELECT o_custkey, o_orderpriority AS mode, cnt AS count,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY cnt DESC, o_orderpriority) AS rn
      FROM c
    )
    SELECT o_custkey, mode, count FROM r WHERE rn = 1
"""


def q_prev_next(spark, sf):
    """prev_next_values (SURVEY §2.1 #9) on orders per customer.

    The value column is nulled on a deterministic subset of rows so the
    oracle exercises the boundary-only fill semantics (reference
    ``misc.py:595-604``): ``prev_fill``/``next_fill`` apply only at the
    first/last row of each group — a genuinely-null neighbor value must
    stay null, NOT be replaced by the fill.
    """
    o = read_table(spark, sf, "orders").withColumn(
        "tp", F.when(F.col("o_orderkey") % 7 == 0, F.lit(None).cast("double"))
               .otherwise(F.col("o_totalprice")))
    out = cps.prev_next_values(
        o, sort_by=["o_orderdate", "o_orderkey"], group_by="o_custkey",
        columns={"tp": {"prev_name": "prev_total", "prev_fill": -1.0,
                        "next_name": "next_total", "next_fill": -2.0}},
        first_indicator_name="is_first", last_indicator_name="is_last")
    return out.select("o_orderkey", "o_custkey",
                      F.round("prev_total", 6).alias("prev_total"),
                      F.round("next_total", 6).alias("next_total"),
                      "is_first", "is_last")


# lag(x, 1, default) / lead(x, 1, default): the default applies only when
# the offset row is outside the partition (ANSI semantics, same as Spark) —
# an in-partition null value passes through as null.
_Q_PREV_NEXT_SQL = """
    WITH o AS (
      SELECT *, CASE WHEN o_orderkey % 7 = 0 THEN NULL
                     ELSE o_totalprice END AS tp
      FROM orders
    )
    SELECT o_orderkey, o_custkey,
           round(lag(tp, 1, -1.0) OVER w, 6) AS prev_total,
           round(lead(tp, 1, -2.0) OVER w, 6) AS next_total,
           row_number() OVER w = 1 AS is_first,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate DESC, o_orderkey DESC) = 1 AS is_last
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_impute_ffill(spark, sf):
    """impute ffill with limit (SURVEY §2.1 #10) on events per user."""
    out = cps.impute(_ev(spark, sf), method="ffill", columns="val",
                     group_by="uid", order_by=["t", "eid"], limit=3)
    return out.select("eid", "uid", "t", F.round("val", 6).alias("val"))


_Q_IMPUTE_FFILL_SQL = f"""
    WITH e AS ({_EV_SQL})
    SELECT eid, uid, t,
           round(coalesce(val, last_value(val IGNORE NULLS) OVER
                 (PARTITION BY uid ORDER BY t, eid
                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)), 6) AS val
    FROM e
"""


def q_stream_dedup(spark, sf):
    """stream_dedup (streaming/__init__.py) in batch-dispatch mode: one
    map-side-combinable groupBy with a min_by whole-row pick, canonical row
    = smallest eid per (uid, etype).  The incremental
    dropDuplicatesWithinWatermark path is exercised in
    tests/test_streaming.py."""
    out = STRM.stream_dedup(_ev(spark, sf), subset=["uid", "etype"],
                            id_col="eid")
    return out.select("eid", "uid", "etype", "t",
                      F.round("val", 6).alias("val"))


_Q_STREAM_DEDUP_SQL = f"""
    SELECT eid, uid, etype, t, round(val, 6) AS val FROM (
      SELECT *, row_number() OVER (PARTITION BY uid, etype ORDER BY eid) AS rn
      FROM ({_EV_SQL})
    ) WHERE rn = 1
"""


def q_stream_ffill(spark, sf):
    """stream_ffill (custom stateful streaming op, streaming/__init__.py) in
    batch-dispatch mode: identical fill semantics to impute ffill without
    limit, value promoted to double (= the streaming path's state dtype).
    The incremental applyInPandasWithState path is exercised in
    tests/test_streaming.py."""
    e = _ev(spark, sf).select("eid", F.col("uid").alias("entity"),
                              F.col("t").alias("timestamp"),
                              F.col("val").alias("value"))
    out = STRM.stream_ffill(e, value_col="value", entity_col="entity",
                            time_col="timestamp")
    return out.select("eid", "entity", "timestamp",
                      F.round("value", 6).alias("value"))


_Q_STREAM_FFILL_SQL = f"""
    WITH e AS ({_EV_SQL})
    SELECT eid, uid AS entity, t AS timestamp,
           round(coalesce(val, last_value(val IGNORE NULLS) OVER
                 (PARTITION BY uid ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE,
                 6) AS value
    FROM e
"""


def q_impute_linear(spark, sf):
    """impute linear (interior-only interpolation) on events per user."""
    out = cps.impute(_ev(spark, sf), method="linear", columns="val",
                     group_by="uid", order_by=["t", "eid"])
    return out.select("eid", "uid", "t", F.round("val", 6).alias("val"))


_Q_IMPUTE_LINEAR_SQL = f"""
    WITH e AS ({_EV_SQL}),
    p AS (
      SELECT eid, uid, t, val,
             row_number() OVER w AS pos,
             last_value(val IGNORE NULLS) OVER
               (PARTITION BY uid ORDER BY t, eid
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
             last_value(CASE WHEN val IS NOT NULL THEN rn0 END IGNORE NULLS) OVER
               (PARTITION BY uid ORDER BY t, eid
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pp,
             first_value(val IGNORE NULLS) OVER
               (PARTITION BY uid ORDER BY t, eid
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN val IS NOT NULL THEN rn0 END IGNORE NULLS) OVER
               (PARTITION BY uid ORDER BY t, eid
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np
      FROM (SELECT *, row_number() OVER (PARTITION BY uid ORDER BY t, eid) AS rn0 FROM e)
      WINDOW w AS (PARTITION BY uid ORDER BY t, eid)
    )
    SELECT eid, uid, t,
           round(coalesce(val, pv + (nv - pv) * (pos - pp) / (np - pp)), 6) AS val
    FROM p
"""


def q_impute_bfill(spark, sf):
    """impute bfill with limit (reference misc.py:744-758)."""
    out = cps.impute(_ev(spark, sf), method="bfill", columns="val",
                     group_by="uid", order_by=["t", "eid"], limit=3)
    return out.select("eid", "uid", "t", F.round("val", 6).alias("val"))


_Q_IMPUTE_BFILL_SQL = f"""
    WITH e AS ({_EV_SQL})
    SELECT eid, uid, t,
           round(coalesce(val, first_value(val IGNORE NULLS) OVER
                 (PARTITION BY uid ORDER BY t, eid
                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)), 6) AS val
    FROM e
"""


def q_impute_afill(spark, sf):
    """impute afill: mean of ffill and bfill, coalesced to whichever exists
    (reference misc.py:744-758)."""
    out = cps.impute(_ev(spark, sf), method="afill", columns="val",
                     group_by="uid", order_by=["t", "eid"])
    return out.select("eid", "uid", "t", F.round("val", 6).alias("val"))


_Q_IMPUTE_AFILL_SQL = f"""
    WITH e AS ({_EV_SQL}),
    fb AS (
      SELECT eid, uid, t, val,
             last_value(val IGNORE NULLS) OVER
               (PARTITION BY uid ORDER BY t, eid
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fwd,
             first_value(val IGNORE NULLS) OVER
               (PARTITION BY uid ORDER BY t, eid
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bwd
      FROM e
    )
    SELECT eid, uid, t,
           round(coalesce(fwd + (bwd - fwd) / 2.0, fwd, bwd), 6) AS val
    FROM fb
"""


def q_impute_lfill(spark, sf):
    """impute lfill: linear interpolation, then ffill, then bfill
    (reference misc.py:744-758 + 720-721)."""
    out = cps.impute(_ev(spark, sf), method="lfill", columns="val",
                     group_by="uid", order_by=["t", "eid"])
    return out.select("eid", "uid", "t", F.round("val", 6).alias("val"))


_Q_IMPUTE_LFILL_SQL = f"""
    WITH e AS ({_EV_SQL}),
    p AS (
      SELECT eid, uid, t, val,
             row_number() OVER w AS pos,
             last_value(val IGNORE NULLS) OVER
               (PARTITION BY uid ORDER BY t, eid
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
             last_value(CASE WHEN val IS NOT NULL THEN rn0 END IGNORE NULLS) OVER
               (PARTITION BY uid ORDER BY t, eid
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pp,
             first_value(val IGNORE NULLS) OVER
               (PARTITION BY uid ORDER BY t, eid
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN val IS NOT NULL THEN rn0 END IGNORE NULLS) OVER
               (PARTITION BY uid ORDER BY t, eid
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np
      FROM (SELECT *, row_number() OVER (PARTITION BY uid ORDER BY t, eid) AS rn0 FROM e)
      WINDOW w AS (PARTITION BY uid ORDER BY t, eid)
    )
    SELECT eid, uid, t,
           round(coalesce(val, pv + (nv - pv) * (pos - pp) / (np - pp), pv, nv), 6) AS val
    FROM p
"""


def _weekly_windows(spark, sf):
    ev = _ev(spark, sf)
    wk = 7 * DAY * 1_000_000
    return (ev.select("uid", (F.floor(F.col("t") / wk) * wk).alias("w_start"))
            .distinct()
            .select(F.col("uid").alias("entity"),
                    F.col("w_start").alias("t_start"),
                    (F.col("w_start") + wk).alias("t_stop")))


_WEEKLY_SQL = """
    SELECT DISTINCT user_id AS entity,
           (epoch_us(ts)::BIGINT // 604800000000) * 604800000000 AS t_start,
           (epoch_us(ts)::BIGINT // 604800000000) * 604800000000 + 604800000000 AS t_stop
    FROM events
"""


def q_resample_eav_irregular(spark, sf):
    """resample_eav over genuinely IRREGULAR windows (one per order, dates
    vary per key — no grid to detect) with join_strategy="sweep": puts the
    sort-sweep observation-window join under the driver's oracle gate.
    Observations are lineitem ship events keyed by order."""
    li = _li(spark, sf)
    ev = li.select(F.col("okey").alias("entity"),
                   F.col("s_start").alias("t"),
                   F.lit("price").alias("attribute"),
                   F.col("price").alias("value"))
    win = _ow(spark, sf).select(F.col("okey").alias("entity"),
                                F.col("w_start").alias("t_start"),
                                F.col("w_stop").alias("t_stop"))
    out = cps.resample_eav(
        ev, win, {"price": ["count", "mean", "sum", "max"]},
        entity_col="entity", time_col="t", include_stop=True,
        regular=False, join_strategy="sweep", assume_unique_windows=True)
    return out.select(
        "entity", "t_start", "t_stop", "price_count",
        F.round("price_mean", 6).alias("price_mean"),
        F.round("price_sum", 6).alias("price_sum"),
        F.round("price_max", 6).alias("price_max"))


_Q_RESAMPLE_IRREGULAR_SQL = f"""
    WITH li AS ({_LI_SQL}), w AS ({_OW_SQL})
    SELECT w.okey AS entity, w.w_start AS t_start, w.w_stop AS t_stop,
           count(li.price) AS price_count,
           round(avg(li.price), 6) AS price_mean,
           round(sum(li.price), 6) AS price_sum,
           round(max(li.price), 6) AS price_max
    FROM w LEFT JOIN li
      ON li.okey = w.okey AND li.s_start >= w.w_start AND li.s_start <= w.w_stop
    GROUP BY w.okey, w.w_start, w.w_stop
"""


def q_resample_eav_bucket(spark, sf):
    """resample_eav over the same irregular windows with the BUCKET scale
    path (bucket_width=10 days, deliberately misaligned with the 30-day
    windows so spans cross bucket boundaries): windows explode into time
    buckets, observations map to their single bucket, the join runs on
    (entity, bucket) with the exact endpoint predicate residual — the
    large x large escape when per-entity window x observation products
    blow up (resampling.py docstring; same design as
    merge_intervals(strategy="bucket")).  Same oracle as the sweep/direct
    variants: the three physical paths must agree cell-for-cell."""
    li = _li(spark, sf)
    ev = li.select(F.col("okey").alias("entity"),
                   F.col("s_start").alias("t"),
                   F.lit("price").alias("attribute"),
                   F.col("price").alias("value"))
    win = _ow(spark, sf).select(F.col("okey").alias("entity"),
                                F.col("w_start").alias("t_start"),
                                F.col("w_stop").alias("t_stop"))
    out = cps.resample_eav(
        ev, win, {"price": ["count", "mean", "sum", "max"]},
        entity_col="entity", time_col="t", include_stop=True,
        regular=False, bucket_width=float(10 * DAY),
        assume_unique_windows=True)
    return out.select(
        "entity", "t_start", "t_stop", "price_count",
        F.round("price_mean", 6).alias("price_mean"),
        F.round("price_sum", 6).alias("price_sum"),
        F.round("price_max", 6).alias("price_max"))


def q_resample_eav_basic(spark, sf):
    """resample_eav standard aggs (SURVEY §2.1 #3) into weekly user windows.
    Windows half-open [start, stop) like typical tumbling windows."""
    ev = _ev(spark, sf).select(F.col("uid").alias("entity"),
                               F.col("t"), F.col("etype").alias("attribute"),
                               F.col("val").alias("value"), "eid")
    win = _weekly_windows(spark, sf)
    out = cps.resample_eav(
        ev, win, {"click": ["count", "mean", "min", "max", "sum", "size"],
                  "view": ["nunique"]},
        entity_col="entity", time_col="t", include_stop=False, tiebreak_col="eid",
        assume_unique_windows=True, regular=(0, WK_US))
    return out.select(
        "entity", "t_start", "t_stop",
        F.col("click_count").alias("click_count"),
        F.round("click_mean", 6).alias("click_mean"),
        F.round("click_min", 6).alias("click_min"),
        F.round("click_max", 6).alias("click_max"),
        F.round("click_sum", 6).alias("click_sum"),
        "click_size", "view_nunique")


_Q_RESAMPLE_BASIC_SQL = f"""
    WITH e AS ({_EV_SQL}), w AS ({_WEEKLY_SQL})
    SELECT w.entity, w.t_start, w.t_stop,
           count(CASE WHEN e.etype = 'click' THEN e.val END) AS click_count,
           round(avg(CASE WHEN e.etype = 'click' THEN e.val END), 6) AS click_mean,
           round(min(CASE WHEN e.etype = 'click' THEN e.val END), 6) AS click_min,
           round(max(CASE WHEN e.etype = 'click' THEN e.val END), 6) AS click_max,
           round(sum(CASE WHEN e.etype = 'click' THEN e.val END), 6) AS click_sum,
           count(CASE WHEN e.etype = 'click' THEN 1 END) AS click_size,
           count(DISTINCT CASE WHEN e.etype = 'view' THEN e.val END) AS view_nunique
    FROM w LEFT JOIN e
      ON e.uid = w.entity AND e.t >= w.t_start AND e.t < w.t_stop
      AND e.etype IN ('click', 'view')
    GROUP BY w.entity, w.t_start, w.t_stop
"""


def q_resample_eav_moments(spark, sf):
    """Higher-moment / less-common aggregations: bias-corrected skewness,
    standard error of the mean, mean absolute deviation (two-pass), and
    product (reference agg vocabulary, resampling.py:74-95)."""
    ev = _ev(spark, sf).select(F.col("uid").alias("entity"), "t",
                               F.col("etype").alias("attribute"),
                               F.col("val").alias("value"))
    win = _weekly_windows(spark, sf)
    out = cps.resample_eav(ev, win, {"view": ["skew", "sem", "mad", "prod"]},
                           entity_col="entity", time_col="t", include_stop=False,
                           assume_unique_windows=True, regular=(0, WK_US))
    return out.select(
        "entity", "t_start", "t_stop",
        F.round("view_skew", 6).alias("view_skew"),
        F.round("view_sem", 6).alias("view_sem"),
        F.round("view_mad", 6).alias("view_mad"),
        # product magnitudes explode; compare in log-space
        F.round(F.log(F.abs(F.col("view_prod"))), 6).alias("view_logprod"))


_Q_RESAMPLE_MOMENTS_SQL = f"""
    WITH e AS ({_EV_SQL}), w AS ({_WEEKLY_SQL}),
    j AS (
      SELECT w.entity, w.t_start, w.t_stop, e.val
      FROM w LEFT JOIN e
        ON e.uid = w.entity AND e.t >= w.t_start AND e.t < w.t_stop
        AND e.etype = 'view'
    ),
    m AS (
      SELECT entity, t_start, t_stop,
             count(val) AS n,
             avg(val) AS mu,
             skewness(val) AS sk,
             stddev_samp(val) AS sd,
             product(val) AS pr
      FROM j GROUP BY entity, t_start, t_stop
    ),
    mad AS (
      SELECT j.entity, j.t_start, j.t_stop,
             avg(abs(j.val - m.mu)) AS mad_v
      FROM j JOIN m ON j.entity = m.entity AND j.t_start = m.t_start
                   AND j.t_stop = m.t_stop
      WHERE j.val IS NOT NULL
      GROUP BY j.entity, j.t_start, j.t_stop
    )
    SELECT m.entity, m.t_start, m.t_stop,
           round(CASE WHEN m.n >= 3 THEN m.sk END, 6) AS view_skew,
           round(m.sd / sqrt(m.n), 6) AS view_sem,
           round(mad.mad_v, 6) AS view_mad,
           round(ln(abs(m.pr)), 6) AS view_logprod
    FROM m LEFT JOIN mad ON m.entity = mad.entity AND m.t_start = mad.t_start
                        AND m.t_stop = mad.t_stop
"""


def q_combine_attrs(spark, sf):
    """combine_intervals with attr_cols (reference misc.py:260-436):
    overlapping intervals of the SAME attribute count once — per-attribute
    union first, then the coverage count; regions where >= 2 DISTINCT
    return-flags are shipping concurrently per supplier."""
    li = _li(spark, sf)
    flagged = read_table(spark, sf, "lineitem").select(
        F.col("l_suppkey").alias("skey"),
        F.col("l_returnflag").alias("flag"),
        F.unix_timestamp("l_shipdate").alias("s_start"),
        (F.unix_timestamp("l_shipdate")
         + F.lit(DAY) * F.col("l_quantity").cast("long")).alias("s_stop"))
    out = cps.combine_intervals(flagged, start_col="s_start", stop_col="s_stop",
                                attr_cols="flag", group_by="skey", n_min=2)
    return out.select("skey", F.col("s_start").alias("c_start"),
                      F.col("s_stop").alias("c_stop"))


_Q_COMBINE_ATTRS_SQL = """
    WITH src AS (
      SELECT l_suppkey AS skey, l_returnflag AS flag,
             epoch(l_shipdate)::BIGINT AS s_start,
             epoch(l_shipdate)::BIGINT + 86400 * l_quantity::BIGINT AS s_stop
      FROM lineitem
    ),
    -- level 1: union per (skey, flag) so equal-flag overlaps count once
    ev1 AS (
      SELECT skey, flag, s_start AS t, 1 AS delta, 0 AS tag FROM src
      UNION ALL
      SELECT skey, flag, s_stop AS t, -1 AS delta, 1 AS tag FROM src
    ), seg1 AS (
      SELECT skey, flag, t, sum(delta) OVER w AS cov, lead(t) OVER w AS seg_stop
      FROM ev1
      WINDOW w AS (PARTITION BY skey, flag ORDER BY t, tag
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), pos1 AS (
      SELECT skey, flag, t, seg_stop, (cov >= 1) AS in_band
      FROM seg1 WHERE seg_stop IS NOT NULL AND seg_stop > t
    ), pos1b AS (
      SELECT skey, flag, t, seg_stop, in_band,
             coalesce(lag(in_band) OVER (PARTITION BY skey, flag ORDER BY t),
                      false) AS prev_in
      FROM pos1
    ), isl1 AS (
      SELECT skey, flag, t, seg_stop, in_band,
             sum(CASE WHEN in_band AND NOT prev_in THEN 1 ELSE 0 END)
             OVER (PARTITION BY skey, flag ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM pos1b
    ), uni AS (
      SELECT skey, min(t) AS u_start, max(seg_stop) AS u_stop
      FROM isl1 WHERE in_band GROUP BY skey, flag, island
    ),
    -- level 2: coverage >= 2 over the per-flag unions
    ev2 AS (
      SELECT skey, u_start AS t, 1 AS delta, 0 AS tag FROM uni
      UNION ALL
      SELECT skey, u_stop AS t, -1 AS delta, 1 AS tag FROM uni
    ), seg2 AS (
      SELECT skey, t, sum(delta) OVER w AS cov, lead(t) OVER w AS seg_stop
      FROM ev2
      WINDOW w AS (PARTITION BY skey ORDER BY t, tag
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), pos2 AS (
      SELECT skey, t, seg_stop, (cov >= 2) AS in_band
      FROM seg2 WHERE seg_stop IS NOT NULL AND seg_stop > t
    ), pos2b AS (
      SELECT skey, t, seg_stop, in_band,
             coalesce(lag(in_band) OVER (PARTITION BY skey ORDER BY t),
                      false) AS prev_in
      FROM pos2
    ), isl2 AS (
      SELECT skey, t, seg_stop, in_band,
             sum(CASE WHEN in_band AND NOT prev_in THEN 1 ELSE 0 END)
             OVER (PARTITION BY skey ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM pos2b
    )
    SELECT skey, min(t) AS c_start, max(seg_stop) AS c_stop
    FROM isl2 WHERE in_band GROUP BY skey, island
"""


def q_resample_eav_quantiles(spark, sf):
    """Exact percentiles (pandas/duckdb linear interpolation, NOT approx)."""
    ev = _ev(spark, sf).select(F.col("uid").alias("entity"), "t",
                               F.col("etype").alias("attribute"),
                               F.col("val").alias("value"))
    win = _weekly_windows(spark, sf)
    out = cps.resample_eav(ev, win, {"view": ["median", "p25", "p90", "std", "var"]},
                           entity_col="entity", time_col="t", include_stop=False,
                           assume_unique_windows=True, regular=(0, WK_US))
    return out.select("entity", "t_start", "t_stop",
                      F.round("view_median", 6).alias("view_median"),
                      F.round("view_p25", 6).alias("view_p25"),
                      F.round("view_p90", 6).alias("view_p90"),
                      F.round("view_std", 6).alias("view_std"),
                      F.round("view_var", 6).alias("view_var"))


_Q_RESAMPLE_QUANT_SQL = f"""
    WITH e AS ({_EV_SQL}), w AS ({_WEEKLY_SQL})
    SELECT w.entity, w.t_start, w.t_stop,
           round(quantile_cont(e.val, 0.5), 6)  AS view_median,
           round(quantile_cont(e.val, 0.25), 6) AS view_p25,
           round(quantile_cont(e.val, 0.9), 6)  AS view_p90,
           round(stddev_samp(e.val), 6) AS view_std,
           round(var_samp(e.val), 6) AS view_var
    FROM w LEFT JOIN (SELECT * FROM e WHERE etype = 'view') e
      ON e.uid = w.entity AND e.t >= w.t_start AND e.t < w.t_stop
    GROUP BY w.entity, w.t_start, w.t_stop
"""


def q_resample_eav_ranks(spark, sf):
    """Rank aggregations rXX/tXX (first/last/2nd observation per window)."""
    ev = _ev(spark, sf).select(F.col("uid").alias("entity"), "t",
                               F.col("etype").alias("attribute"),
                               F.col("val").alias("value"), "eid")
    win = _weekly_windows(spark, sf)
    out = cps.resample_eav(ev, win, {"click": ["r0", "r-1", "r1", "t0", "t-1"]},
                           entity_col="entity", time_col="t",
                           include_stop=False, tiebreak_col="eid",
                           assume_unique_windows=True, regular=(0, WK_US))
    return out.select("entity", "t_start", "t_stop",
                      F.round("click_r0", 6).alias("click_r0"),
                      F.round("click_r-1", 6).alias("click_rm1"),
                      F.round("click_r1", 6).alias("click_r1"),
                      F.col("click_t0").alias("click_t0"),
                      F.col("click_t-1").alias("click_tm1"))


_Q_RESAMPLE_RANKS_SQL = f"""
    WITH e AS ({_EV_SQL}), w AS ({_WEEKLY_SQL}),
    j AS (
      SELECT w.entity, w.t_start, w.t_stop, e.val, e.t,
             row_number() OVER (PARTITION BY w.entity, w.t_start
                                ORDER BY e.t, e.eid) AS ra,
             row_number() OVER (PARTITION BY w.entity, w.t_start
                                ORDER BY e.t DESC, e.eid DESC) AS rd
      FROM w JOIN e
        ON e.uid = w.entity AND e.t >= w.t_start AND e.t < w.t_stop
        AND e.etype = 'click'
    )
    SELECT w.entity, w.t_start, w.t_stop,
           round(max(CASE WHEN j.ra = 1 THEN j.val END), 6) AS click_r0,
           round(max(CASE WHEN j.rd = 1 THEN j.val END), 6) AS click_rm1,
           round(max(CASE WHEN j.ra = 2 THEN j.val END), 6) AS click_r1,
           max(CASE WHEN j.ra = 1 THEN j.t END) AS click_t0,
           max(CASE WHEN j.rd = 1 THEN j.t END) AS click_tm1
    FROM w LEFT JOIN j
      ON j.entity = w.entity AND j.t_start = w.t_start AND j.t_stop = w.t_stop
    GROUP BY w.entity, w.t_start, w.t_stop
"""


def q_resample_eav_mode(spark, sf):
    """mode/mode_count with deterministic tie-break (misc.py:930-933)."""
    ev = _ev(spark, sf).select(
        F.col("uid").alias("entity"), "t", F.col("etype").alias("attribute"),
        F.round(F.col("val") / 50.0).alias("value"))
    win = _weekly_windows(spark, sf)
    out = cps.resample_eav(ev, win, {"view": ["mode", "mode_count"]},
                           entity_col="entity", time_col="t", include_stop=False,
                           assume_unique_windows=True, regular=(0, WK_US))
    return out.select("entity", "t_start", "t_stop",
                      F.round("view_mode", 6).alias("view_mode"),
                      "view_mode_count")


_Q_RESAMPLE_MODE_SQL = f"""
    WITH e AS (SELECT eid, uid, t, etype, round(val / 50.0) AS val FROM ({_EV_SQL})),
    w AS ({_WEEKLY_SQL}),
    c AS (
      SELECT w.entity, w.t_start, w.t_stop, e.val, count(*) AS cnt
      FROM w JOIN e ON e.uid = w.entity AND e.t >= w.t_start AND e.t < w.t_stop
        AND e.etype = 'view' AND e.val IS NOT NULL
      GROUP BY w.entity, w.t_start, w.t_stop, e.val
    ), r AS (
      SELECT entity, t_start, t_stop, val, cnt,
             row_number() OVER (PARTITION BY entity, t_start
                                ORDER BY cnt DESC, val) AS rn
      FROM c
    )
    SELECT w.entity, w.t_start, w.t_stop,
           round(r.val, 6) AS view_mode,
           coalesce(r.cnt, 0) AS view_mode_count
    FROM w LEFT JOIN (SELECT * FROM r WHERE rn = 1) r
      ON r.entity = w.entity AND r.t_start = w.t_start AND r.t_stop = w.t_stop
"""


def q_resample_interval(spark, sf):
    """resample_interval (SURVEY §2.1 #4): duration-weighted price into
    order windows."""
    ivl = _li(spark, sf).select(F.col("okey").alias("entity"),
                                F.col("s_start").alias("start"),
                                F.col("s_stop").alias("stop"),
                                F.lit("price").alias("attribute"),
                                F.col("price").alias("value"))
    win = _ow(spark, sf).select(F.col("okey").alias("entity"),
                                F.col("w_start").alias("start_start"),
                                F.col("w_stop").alias("start_stop"))
    out = cps.resample_interval(ivl, win, attributes=["price"],
                                assume_unique_windows=True)
    return out.select("entity", "start_start", "start_stop",
                      F.round("price", 6).alias("price"))


def q_resample_interval_sweep(spark, sf):
    """q_resample_interval via join_strategy="sweep" (the overlap join
    delegated to the sort-sweep kernel) — same oracle certifies it."""
    ivl = _li(spark, sf).select(F.col("okey").alias("entity"),
                                F.col("s_start").alias("start"),
                                F.col("s_stop").alias("stop"),
                                F.lit("price").alias("attribute"),
                                F.col("price").alias("value"))
    win = _ow(spark, sf).select(F.col("okey").alias("entity"),
                                F.col("w_start").alias("start_start"),
                                F.col("w_stop").alias("start_stop"))
    out = cps.resample_interval(ivl, win, attributes=["price"],
                                assume_unique_windows=True,
                                join_strategy="sweep")
    return out.select("entity", "start_start", "start_stop",
                      F.round("price", 6).alias("price"))


_Q_RESAMPLE_INTERVAL_SQL = f"""
    WITH i AS ({_LI_SQL}), w AS ({_OW_SQL}),
    j AS (
      SELECT w.okey AS entity, w.w_start, w.w_stop, i.price,
             greatest(i.s_start, w.w_start) AS lo,
             least(i.s_stop, w.w_stop) AS hi,
             i.s_stop - i.s_start AS len_i
      FROM w JOIN i ON i.okey = w.okey
        AND i.s_start <= w.w_stop AND w.w_start <= i.s_stop
    )
    SELECT w.okey AS entity, w.w_start AS start_start, w.w_stop AS start_stop,
           round(coalesce(sum(CASE WHEN j.len_i = 0 THEN j.price
                              ELSE j.price * (j.hi - j.lo) / j.len_i END), 0.0), 6)
             AS price
    FROM w LEFT JOIN j ON j.entity = w.okey AND j.w_start = w.w_start
    GROUP BY w.okey, w.w_start, w.w_stop
"""


def q_make_windows(spark, sf):
    """make_windows (SURVEY §2.1 #5, reference resampling.py:791-1083):
    relative windows anchored per entity — [first_event + 1h, +3d) — built
    from the lazy spec's SQL-source escape hatch (the Spark replacement of
    the reference's eval() string, resampling.py:925-932) and consumed
    end-to-end by resample_eav."""
    HOUR = 3_600_000_000  # event time is epoch micros
    ev = _ev(spark, sf).select(F.col("uid").alias("entity"), "t",
                               F.col("etype").alias("attribute"),
                               F.col("val").alias("value"))
    mw = cps.make_windows(
        df="SELECT entity, min(t) AS anchor FROM df GROUP BY entity",
        anchor="anchor", start_rel=HOUR, duration=72 * HOUR)
    out = cps.resample_eav(ev, mw, {"click": ["count"], "view": ["count"]},
                           entity_col="entity", time_col="t",
                           assume_unique_windows=True)
    return out.select("entity", "t_start", "t_stop",
                      "click_count", "view_count")


_Q_MAKE_WINDOWS_SQL = f"""
    WITH e AS ({_EV_SQL}),
    a AS (SELECT uid AS entity, min(t) AS anchor FROM e GROUP BY uid),
    w AS (SELECT entity, anchor + 3600000000 AS t_start,
                 anchor + 3600000000 + 72 * 3600000000 AS t_stop FROM a)
    SELECT w.entity, w.t_start, w.t_stop,
           count(CASE WHEN e.etype = 'click' THEN e.val END) AS click_count,
           count(CASE WHEN e.etype = 'view' THEN e.val END) AS view_count
    FROM w LEFT JOIN e
      ON e.uid = w.entity AND e.t >= w.t_start AND e.t < w.t_stop
    GROUP BY w.entity, w.t_start, w.t_stop
"""


def q_factorize(spark, sf):
    """factorize (SURVEY §2.1 #11): dense ids over a composite key."""
    li = read_table(spark, sf, "lineitem")
    out, _ = cps.factorize(li, ["l_returnflag", "l_linestatus"], sort=True)
    return (out.groupBy("l_returnflag", "l_linestatus", "__key__")
            .agg(F.count(F.lit(1)).alias("n"))
            .select("l_returnflag", "l_linestatus",
                    F.col("__key__").alias("key"), "n"))


_Q_FACTORIZE_SQL = """
    SELECT l_returnflag, l_linestatus,
           dense_rank() OVER (ORDER BY l_returnflag, l_linestatus) - 1 AS key,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_inner_or_cross(spark, sf):
    """inner_or_cross_join (SURVEY §2.1 #12): missing key -> cross join."""
    n = read_table(spark, sf, "nation").select("n_nationkey", "n_name")
    r = read_table(spark, sf, "region").select("r_regionkey", "r_name")
    return cps.inner_or_cross_join(n, r, on="no_such_column")


_Q_INNER_CROSS_SQL = """
    SELECT n_nationkey, n_name, r_regionkey, r_name
    FROM (SELECT n_nationkey, n_name FROM nation) CROSS JOIN
         (SELECT r_regionkey, r_name FROM region)
"""


# --------------------------------------------------------------------------
# pipeline-tier queries (dedup / similarity / text)
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf):
    docs = read_table(spark, sf, "documents")
    out = P.exact_dedup(docs, columns=["text"], id_col="doc_id", mode="mark")
    return out.select("doc_id", "dup_key", "dup_count", "is_duplicate")


_Q_DEDUP_EXACT_SQL = """
    SELECT doc_id, md5(text) AS dup_key,
           count(*) OVER (PARTITION BY md5(text)) AS dup_count,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1
             AS is_duplicate
    FROM documents
"""


def q_fingerprint(spark, sf):
    docs = read_table(spark, sf, "documents")
    return P.fingerprint(docs).select("doc_id", "fingerprint")


_Q_FINGERPRINT_SQL = f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({_TOKS})), ' '))
             AS fingerprint
    FROM documents
"""


def q_text_stats(spark, sf):
    docs = read_table(spark, sf, "documents")
    out = P.text_quality(P.token_count(docs))
    return out.select("doc_id", "n_tokens",
                      F.round("stopword_ratio", 6).alias("stopword_ratio"),
                      F.round("punct_ratio", 6).alias("punct_ratio"),
                      F.round("digit_ratio", 6).alias("digit_ratio"),
                      F.round("quality_score", 6).alias("quality_score"))


_EN_STOP_SQL = "['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this']"

_Q_TEXT_STATS_SQL = f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS toks,
             length(text)::DOUBLE AS n_chars,
             len({_TOKS})::DOUBLE AS n_tokens,
             len(list_filter({_TOKS}, x -> list_contains({_EN_STOP_SQL}, x)))::DOUBLE AS n_stop,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE AS n_punct,
             length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE AS n_digit
      FROM documents
    ), r AS (
      SELECT doc_id, n_tokens::BIGINT AS n_tokens,
             CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END AS stopword_ratio,
             CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
             CASE WHEN n_chars > 0 THEN n_digit / n_chars ELSE 0.0 END AS digit_ratio,
             CASE WHEN n_tokens > 0 THEN length(array_to_string(toks, '')) / n_tokens ELSE 0.0 END AS avg_tok
      FROM t
    )
    SELECT doc_id, n_tokens, round(stopword_ratio, 6) AS stopword_ratio,
           round(punct_ratio, 6) AS punct_ratio,
           round(digit_ratio, 6) AS digit_ratio,
           round((CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN avg_tok BETWEEN 3 AND 12 THEN 0.2 ELSE 0.0 END)
               + (CASE WHEN stopword_ratio BETWEEN 0.05 AND 0.6 THEN 0.2 ELSE 0.0 END)
               + (CASE WHEN punct_ratio <= 0.1 THEN 0.1 ELSE 0.0 END)
               + (CASE WHEN digit_ratio <= 0.2 THEN 0.1 ELSE 0.0 END), 6)
             AS quality_score
    FROM r
"""


def q_quality_gate(spark, sf):
    """Corpus quality gate (pipeline.apply_filters): per-rule violation
    bitmask + reason list over text_quality / detect_language features —
    the C4/Gopher-style filter pass with auditable yield-loss
    attribution, all narrow column expressions."""
    docs = read_table(spark, sf, "documents")
    feats = P.detect_language(P.text_quality(docs))
    rules = {
        "too_short": F.col("n_tokens") < 10,
        "low_stopword": F.col("stopword_ratio") < 0.05,
        "too_many_digits": F.col("digit_ratio") > 0.2,
        "lang_undetermined": F.col("lang_pred") == "und",
    }
    out = P.apply_filters(feats, rules)
    return out.select(
        "doc_id", "filter_flags",
        F.concat_ws(",", "filter_reasons").alias("reasons"), "kept")


def _quality_gate_sql():
    return f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS toks,
             length(text)::DOUBLE AS n_chars,
             len({_TOKS})::DOUBLE AS n_tokens,
             len(list_filter({_TOKS}, x -> list_contains({_EN_STOP_SQL}, x)))::DOUBLE AS n_stop,
             length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE AS n_digit
      FROM documents
    ), feats AS (
      SELECT doc_id,
             n_tokens,
             CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END AS stop_ratio,
             CASE WHEN n_chars > 0 THEN n_digit / n_chars ELSE 0.0 END AS digit_ratio,
             {_lang_cnt_sql(["the","and","of","to","is","that"])} AS c_en,
             {_lang_cnt_sql(["der","die","und","ist","nicht","das"])} AS c_de,
             {_lang_cnt_sql(["le","la","et","les","des","une"])} AS c_fr,
             {_lang_cnt_sql(["el","los","las","es","una","que"])} AS c_es
      FROM t
    ), feats2 AS (
      SELECT *, CASE WHEN greatest(c_en, c_de, c_fr, c_es) = 0 THEN 'und'
                     WHEN c_en = greatest(c_en, c_de, c_fr, c_es) THEN 'en'
                     WHEN c_de = greatest(c_en, c_de, c_fr, c_es) THEN 'de'
                     WHEN c_fr = greatest(c_en, c_de, c_fr, c_es) THEN 'fr'
                     ELSE 'es' END AS lang_pred
      FROM feats
    ), flags AS (
      SELECT doc_id,
             (CASE WHEN n_tokens < 10 THEN 1 ELSE 0 END
              + CASE WHEN stop_ratio < 0.05 THEN 2 ELSE 0 END
              + CASE WHEN digit_ratio > 0.2 THEN 4 ELSE 0 END
              + CASE WHEN lang_pred = 'und' THEN 8 ELSE 0 END)::BIGINT AS filter_flags,
             coalesce(array_to_string(list_filter([
               CASE WHEN n_tokens < 10 THEN 'too_short' END,
               CASE WHEN stop_ratio < 0.05 THEN 'low_stopword' END,
               CASE WHEN digit_ratio > 0.2 THEN 'too_many_digits' END,
               CASE WHEN lang_pred = 'und' THEN 'lang_undetermined' END
             ], x -> x IS NOT NULL), ','), '') AS reasons
      FROM feats2
    )
    SELECT doc_id, filter_flags, reasons, filter_flags = 0 AS kept FROM flags
"""


def q_json_props(spark, sf):
    """Semi-structured column handling: parse the events' JSON ``props``
    with a declared schema (from_json — no schema inference pass) and
    aggregate the extracted field per event type.  Covers the JSON
    function surface the reference lacks (SURVEY §2.3 scalar functions)."""
    ev = read_table(spark, sf, "events")
    k = F.from_json("props", "struct<k:int>")["k"]
    return (ev.withColumn("k", k)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.max("k").alias("max_k"),
                 F.round(F.avg("k"), 6).alias("avg_k"))
            .withColumnRenamed("event_type", "etype"))


_Q_JSON_PROPS_SQL = """
    SELECT event_type AS etype, count(*) AS n,
           sum((props->>'k')::INT)::BIGINT AS sum_k,
           max((props->>'k')::INT)::INT AS max_k,
           round(avg((props->>'k')::INT), 6) AS avg_k
    FROM events GROUP BY event_type
"""


def q_topk(spark, sf):
    """grouped_topk: top-3 events per user by value (desc), deterministic
    tie-break on event id, with the Arrow map-side prefilter engaged."""
    ev = _ev(spark, sf).filter(F.col("val").isNotNull())
    out = cps.grouped_topk(ev, group_by="uid", order_by=["val", "eid"],
                           k=3, descending=True, rank_col="rk",
                           prefilter=True)
    return out.select("uid", "eid", F.round("val", 6).alias("val"), "rk")


_Q_TOPK_SQL = f"""
    SELECT uid, eid, round(val, 6) AS val, rk FROM (
      SELECT uid, eid, val,
             row_number() OVER (PARTITION BY uid ORDER BY val DESC, eid DESC) AS rk
      FROM ({_EV_SQL}) WHERE val IS NOT NULL
    ) WHERE rk <= 3
"""


def q_rollup(spark, sf):
    """Hierarchical rollup aggregation (native Spark rollup; the reference
    has no grouping-sets analogue — SURVEY §2.3 aggregations)."""
    ev = _ev(spark, sf)
    out = (_ev(spark, sf)
           .rollup("etype", "uid")
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum("val"), 4).alias("sum_val")))
    return out.select(
        F.coalesce(F.col("etype"), F.lit("<all>")).alias("etype"),
        F.coalesce(F.col("uid").cast("string"), F.lit("<all>")).alias("uid"),
        "n", "sum_val")


_Q_ROLLUP_SQL = f"""
    SELECT coalesce(etype, '<all>') AS etype,
           coalesce(uid::VARCHAR, '<all>') AS uid,
           count(*) AS n, round(sum(val), 4) AS sum_val
    FROM ({_EV_SQL})
    GROUP BY ROLLUP (etype, uid)
"""


def q_cube(spark, sf):
    """Multi-dimensional CUBE aggregation over lineitem flags (native
    Spark cube — all 4 grouping sets in one pass with partial
    aggregation; complements q_rollup's hierarchy)."""
    li = read_table(spark, sf, "lineitem")
    out = (li.cube("l_returnflag", "l_linestatus")
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum("l_quantity"), 4).alias("sum_qty")))
    return out.select(
        F.coalesce(F.col("l_returnflag"), F.lit("<all>")).alias("l_returnflag"),
        F.coalesce(F.col("l_linestatus"), F.lit("<all>")).alias("l_linestatus"),
        "n", "sum_qty")


_Q_CUBE_SQL = """
    SELECT coalesce(l_returnflag, '<all>') AS l_returnflag,
           coalesce(l_linestatus, '<all>') AS l_linestatus,
           count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_scrub_pii(spark, sf):
    """PII scrub (pipeline.scrub_pii): deterministic synthetic PII spans
    are appended to each document (the corpus itself is synthetic and
    PII-free), then redacted; the oracle replays injection + the same
    regex cascade and compares counts and the md5 of the scrubbed text."""
    docs = read_table(spark, sf, "documents")
    aug = docs.withColumn("text", F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                        F.lit("@example.com")))
         .when(F.col("doc_id") % 3 == 1, F.lit(" call +43 660 123-4567"))
         .otherwise(F.concat(F.lit(" host 10.0."),
                             (F.col("doc_id") % 256).cast("string"), F.lit(".7"))),
        F.when(F.col("doc_id") % 10 == 0, F.lit(" ssn 123-45-6789"))
         .otherwise(F.lit(""))))
    out = P.scrub_pii(aug)
    return out.select("doc_id", "n_email", "n_ssn", "n_ipv4", "n_phone",
                      F.md5("text_scrubbed").alias("scrub_md5"))


_PII_RE = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+?[0-9][0-9 ()-]{7,}[0-9]",
}

_Q_SCRUB_PII_SQL = f"""
    WITH aug AS (
      SELECT doc_id, text
        || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com'
                WHEN doc_id % 3 = 1 THEN ' call +43 660 123-4567'
                ELSE ' host 10.0.' || (doc_id % 256) || '.7' END
        || CASE WHEN doc_id % 10 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS t
      FROM documents
    ), s AS (
      SELECT doc_id, t,
             len(regexp_extract_all(t, '{_PII_RE["email"]}')) AS n_email,
             regexp_replace(t, '{_PII_RE["email"]}', '<EMAIL>', 'g') AS t1
      FROM aug
    ), s2 AS (
      SELECT doc_id, n_email,
             len(regexp_extract_all(t1, '{_PII_RE["ssn"]}')) AS n_ssn,
             regexp_replace(t1, '{_PII_RE["ssn"]}', '<SSN>', 'g') AS t2
      FROM s
    ), s3 AS (
      SELECT doc_id, n_email, n_ssn,
             len(regexp_extract_all(t2, '{_PII_RE["ipv4"]}')) AS n_ipv4,
             regexp_replace(t2, '{_PII_RE["ipv4"]}', '<IPV4>', 'g') AS t3
      FROM s2
    )
    SELECT doc_id, n_email::INT AS n_email, n_ssn::INT AS n_ssn,
           n_ipv4::INT AS n_ipv4,
           len(regexp_extract_all(t3, '{_PII_RE["phone"]}'))::INT AS n_phone,
           md5(regexp_replace(t3, '{_PII_RE["phone"]}', '<PHONE>', 'g')) AS scrub_md5
    FROM s3
"""


def q_decontam(spark, sf):
    """Benchmark decontamination (pipeline.decontaminate): corpus docs
    sharing any distinct 5-gram with the held-out benchmark split
    (doc_id % 20 == 0).  Broadcast bench shingle set, map-only corpus
    shingling, combinable hit count — no corpus-wide shuffle."""
    docs = read_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    out = P.decontaminate(corpus, bench, n=5, min_hits=1)
    return out.select("doc_id", "n_hits", "contaminated")


_Q_DECONTAM_SQL = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    gr AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS sh
      FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 4, 1))) AS i) g
      WHERE len(t) > 0
    ),
    bench AS (SELECT DISTINCT sh FROM gr WHERE doc_id % 20 = 0),
    hits AS (
      SELECT c.doc_id, count(*) AS n_hits
      FROM gr c JOIN bench b USING (sh)
      WHERE c.doc_id % 20 != 0 GROUP BY c.doc_id
    )
    SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
           coalesce(h.n_hits, 0) >= 1 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 20 != 0
"""


def q_repetition(spark, sf):
    """Gopher-style repetition signals (pipeline.repetition_stats):
    duplicate-segment fractions + most-frequent-2-gram coverage, all
    map-only array folds (segments split on the literal ' a ')."""
    docs = read_table(spark, sf, "documents")
    out = P.repetition_stats(docs, ngram_n=2, line_sep=" a ")
    return out.select(
        "doc_id", "n_lines",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        "top_ngram",
        F.round("top_ngram_char_frac", 6).alias("top_ngram_char_frac"))


_Q_REPETITION_SQL = f"""
    WITH segs AS (
      SELECT doc_id, seg FROM (
        SELECT doc_id, unnest(string_split(text, ' a ')) AS seg FROM documents
      ) WHERE trim(seg) != ''
    ),
    segc AS (
      SELECT doc_id, seg, count(*) AS c, length(seg) AS L
      FROM segs GROUP BY doc_id, seg
    ),
    line_stats AS (
      SELECT doc_id, sum(c)::BIGINT AS n_lines,
             sum(c - 1)::DOUBLE AS n_dup,
             sum((c - 1) * L)::DOUBLE AS dup_chars,
             sum(c * L)::DOUBLE AS tot_chars
      FROM segc GROUP BY doc_id
    ),
    toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g2 AS (
      SELECT doc_id, array_to_string(t[i:i+1], ' ') AS sh
      FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 1, 1))) AS i) g
      WHERE len(t) > 0
    ),
    g2c AS (SELECT doc_id, sh, count(*) AS c FROM g2 GROUP BY doc_id, sh),
    top AS (
      SELECT doc_id, min(sh) AS top_ngram, max(c) AS freq FROM (
        SELECT doc_id, sh, c, max(c) OVER (PARTITION BY doc_id) AS mx FROM g2c
      ) WHERE c = mx GROUP BY doc_id
    ),
    norm AS (SELECT doc_id, length(array_to_string(t, ' '))::DOUBLE AS nc FROM toks)
    SELECT d.doc_id,
           coalesce(ls.n_lines, 0) AS n_lines,
           round(CASE WHEN coalesce(ls.n_lines, 0) > 0
                      THEN ls.n_dup / ls.n_lines ELSE 0.0 END, 6) AS dup_line_frac,
           round(CASE WHEN coalesce(ls.tot_chars, 0) > 0
                      THEN ls.dup_chars / ls.tot_chars ELSE 0.0 END, 6) AS dup_line_char_frac,
           coalesce(t.top_ngram, '') AS top_ngram,
           round(CASE WHEN coalesce(n.nc, 0) > 0
                      THEN t.freq * length(t.top_ngram) / n.nc ELSE 0.0 END, 6)
             AS top_ngram_char_frac
    FROM documents d
    LEFT JOIN line_stats ls USING (doc_id)
    LEFT JOIN top t USING (doc_id)
    LEFT JOIN norm n USING (doc_id)
"""


def q_langid(spark, sf):
    docs = read_table(spark, sf, "documents")
    return P.detect_language(docs).select("doc_id", "lang_pred")


def _lang_cnt_sql(words):
    pat = "\\b(" + "|".join(words) + ")\\b"
    return f"len(regexp_extract_all(lower(text), '{pat}'))"


_Q_LANGID_SQL = f"""
    WITH s AS (
      SELECT doc_id,
             {_lang_cnt_sql(["the","and","of","to","is","that"])} AS c_en,
             {_lang_cnt_sql(["der","die","und","ist","nicht","das"])} AS c_de,
             {_lang_cnt_sql(["le","la","et","les","des","une"])} AS c_fr,
             {_lang_cnt_sql(["el","los","las","es","una","que"])} AS c_es
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN greatest(c_en, c_de, c_fr, c_es) = 0 THEN 'und'
                WHEN c_en = greatest(c_en, c_de, c_fr, c_es) THEN 'en'
                WHEN c_de = greatest(c_en, c_de, c_fr, c_es) THEN 'de'
                WHEN c_fr = greatest(c_en, c_de, c_fr, c_es) THEN 'fr'
                ELSE 'es' END AS lang_pred
    FROM s
"""


def q_ngram_jaccard(spark, sf):
    """Exact 3-gram Jaccard near-dup pairs (ground truth for MinHash).
    Trigrams, not bigrams: the self-join cost is sum(freq^2) over shingles,
    and on this corpus trigrams cut that 26x (2.8M vs 73M pairs at sf0.1)
    while finding the same planted near-dups.  max_doc_freq=50 is the
    hot-shingle cap (VERDICT r1 #6) bounding the self-join at sum
    min(freq,50)^2; on this corpus max trigram doc-freq is 25, so the cap
    is semantically a no-op here while guarding the 100 TB case."""
    docs = read_table(spark, sf, "documents")
    out = P.ngram_jaccard_pairs(docs, k=3, threshold=0.12, max_doc_freq=50)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _ngram_pairs_ctes(threshold: float, max_doc_freq: int = 50) -> str:
    """CTE chain ending in ``pairs`` = exact trigram-Jaccard pairs >=
    threshold, with the hot-shingle cap mirroring
    ``ngram_jaccard_pairs(max_doc_freq=...)``.  Shared by the pair query
    oracle and the dedup-clustering recursive-CTE oracle."""
    return f"""toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh0 AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
      FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i) g
      WHERE len(t) > 0
    ),
    sh AS (
      SELECT doc_id, sh FROM (
        SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS d FROM sh0
      ) WHERE d <= {max_doc_freq}
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT c.id_a, c.id_b,
             c.n_common::DOUBLE / (sa.n_sh + sb.n_sh - c.n_common) AS jaccard
      FROM common c JOIN sizes sa ON sa.doc_id = c.id_a
                    JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE c.n_common::DOUBLE / (sa.n_sh + sb.n_sh - c.n_common) >= {threshold}
    )"""


def _ngram_sql(threshold: float, max_doc_freq: int = 50) -> str:
    return f"""
    WITH {_ngram_pairs_ctes(threshold, max_doc_freq)}
    SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM pairs
"""


_Q_NGRAM_JACCARD_SQL = _ngram_sql(0.12)


def q_dedup_clusters(spark, sf):
    """Near-dup CLUSTERING: exact trigram-Jaccard pairs -> connected
    components (min-label propagation + pointer jumping) -> canonical
    doc per cluster.  The transitive-closure step every real dedup
    pipeline needs after pair generation; oracled by a DuckDB recursive
    CTE over the identical pair set."""
    docs = read_table(spark, sf, "documents")
    pairs = P.ngram_jaccard_pairs(docs, k=3, threshold=0.12, max_doc_freq=50)
    out = P.near_dup_dedup(docs, pairs, id_col="doc_id", mode="mark")
    return out.select("doc_id", "cluster_id", "is_duplicate")


_Q_DEDUP_CLUSTERS_SQL = f"""
    WITH RECURSIVE {_ngram_pairs_ctes(0.12)},
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM documents
      UNION
      SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u
    )
    SELECT id AS doc_id, min(r) AS cluster_id, min(r) != id AS is_duplicate
    FROM reach GROUP BY id
"""


def q_bpe_tokens(spark, sf):
    """BPE-ish subword token estimate for training-data budgeting
    (alphabetic runs ~4 chars/subword, per-digit tokens, per-symbol
    tokens) — pure JVM expressions, zero shuffles."""
    docs = read_table(spark, sf, "documents")
    return P.token_count_bpe(docs).select("doc_id", "n_tokens_bpe")


_Q_BPE_TOKENS_SQL = r"""
    SELECT doc_id,
           (coalesce(list_sum(list_transform(
                regexp_extract_all(lower(text), '[a-z]+'),
                w -> ceil(length(w) / 4.0))), 0)
            + len(regexp_extract_all(lower(text), '[0-9]'))
            + len(regexp_extract_all(lower(text), '[^a-z0-9\s]')))::BIGINT
             AS n_tokens_bpe
    FROM documents
"""


def q_sample_stratified(spark, sf):
    """Exact-N-per-language deterministic sample (md5-order draw): the
    selection is a pure function of (seed, doc_id), so DuckDB reproduces
    it bit-for-bit from the same digest."""
    docs = read_table(spark, sf, "documents")
    out = P.stratified_sample(docs, "lang", 20, on="doc_id", seed=7)
    return out.select("doc_id", "lang")


_Q_SAMPLE_STRATIFIED_SQL = """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang, row_number() OVER (
        PARTITION BY lang
        ORDER BY md5(concat_ws('|', '7', doc_id::VARCHAR))) AS rn
      FROM documents)
    WHERE rn <= 20
"""


def q_sample_split(spark, sf):
    """Leak-proof train/val/test assignment by md5 hash-threshold ranges —
    zero-shuffle, stable under corpus growth, engine-independent."""
    docs = read_table(spark, sf, "documents")
    out = P.assign_splits(docs, {"train": 0.8, "val": 0.1, "test": 0.1},
                          on="doc_id", seed=7)
    return out.select("doc_id", "split")


def _split_sql() -> str:
    from catabra_pandas_spark.pipeline.sampling import _hex_threshold

    t_train, t_val = _hex_threshold(0.8), _hex_threshold(0.9)
    return f"""
    SELECT doc_id,
           CASE WHEN md5(concat_ws('|', '7', doc_id::VARCHAR)) < '{t_train}'
                THEN 'train'
                WHEN md5(concat_ws('|', '7', doc_id::VARCHAR)) < '{t_val}'
                THEN 'val'
                ELSE 'test' END AS split
    FROM documents
"""


_Q_SAMPLE_SPLIT_SQL = _split_sql()


def q_cosine_topk(spark, sf):
    """Brute-force cosine top-5 neighbors for the first 10 vectors."""
    emb = read_table(spark, sf, "embeddings")
    out = P.cosine_topk(emb.filter(F.col("vec_id") < 10), emb, k=5, dim=64)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


_Q_COSINE_TOPK_SQL = """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
      SELECT q.query_id, c.neighbor_id,
             list_cosine_similarity(q.v, c.v) AS sim,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                         c.neighbor_id) AS rank
      FROM q JOIN c ON q.query_id != c.neighbor_id
    )
    SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim, rank
    FROM s WHERE rank <= 5
"""


def q_embedding_q8(spark, sf):
    """int8 scalar quantization of the embedding store
    (pipeline/similarity.py quantize_embeddings — map-only, codegen
    unrolled element_at arithmetic, zero shuffle): per vector the scale
    max|v|/127 and order-independent code statistics (sum/min/max and
    the max reconstruction error, bounded by scale/2).  The DuckDB twin
    replays the affine arithmetic on the raw floats — both engines run
    the identical double ops, so round-half-away codes match bit for
    bit."""
    emb = read_table(spark, sf, "embeddings").filter(F.col("vec_id") < 300)
    q = P.quantize_embeddings(emb, dim=64)
    code = F.col("codes_q8")
    recon = F.transform(
        F.arrays_zip(F.col("embedding").cast("array<double>").alias("v"),
                     code.alias("c")),
        lambda r: F.abs(r["v"] - r["c"].cast("double")
                        * F.col("scale_q8")))
    # two-step select: aliasing round(scale_q8) AS scale_q8 in the SAME
    # select would make the recon lambda's F.col("scale_q8") resolve to
    # the ROUNDED lateral column alias instead of the child column
    # (verified: max_abs_err shifted by code_max x round-error, ~1.6e-8)
    stats = q.select(
        "vec_id", "scale_q8",
        F.aggregate(code, F.lit(0).cast("long"),
                    lambda acc, x: acc + x.cast("long")).alias("code_sum"),
        F.array_min(code).cast("long").alias("code_min"),
        F.array_max(code).cast("long").alias("code_max"),
        F.array_max(recon).alias("__err__"))
    return stats.select(
        "vec_id", F.round("scale_q8", 9).alias("scale_q8"),
        "code_sum", "code_min", "code_max",
        F.round("__err__", 9).alias("max_abs_err"))


_Q_EMBEDDING_Q8_SQL = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id < 300),
    s AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
          FROM e),
    c AS (SELECT vec_id, scale,
                 list_transform(v, x -> round(x / scale)::BIGINT) AS codes,
                 list_transform(v, x -> abs(x - round(x / scale) * scale))
                     AS err
          FROM s)
    SELECT vec_id, round(scale, 9) AS scale_q8,
           list_sum(codes)::BIGINT AS code_sum,
           list_min(codes) AS code_min, list_max(codes) AS code_max,
           round(list_max(err), 9) AS max_abs_err
    FROM c
"""


def q_q8_ann(spark, sf):
    """int8-quantization recall certificate (pipeline/similarity.py
    q8_cosine_topk): the corpus is scanned as int8 CODES (4x fewer bytes
    than float32 — at 100 TB the scan is the bill), per-batch code-space
    cosine picks an 8k candidate pool, and the pool is re-scored EXACTLY
    on the float vectors.  The certificate semi-joins the exact top-5
    pairs against the q8 result: green iff quantized scanning recovered
    every true neighbor, so it shares q_cosine_topk's exact oracle."""
    emb = read_table(spark, sf, "embeddings")
    corpus_q8 = P.quantize_embeddings(emb, dim=64)
    q8 = P.q8_cosine_topk(emb.filter(F.col("vec_id") < 10), corpus_q8,
                          k=5, dim=64, rerank_vec="embedding", rerank=8)
    exact = P.cosine_topk(emb.filter(F.col("vec_id") < 10), emb, k=5,
                          dim=64)
    return (exact.join(q8.select("query_id", "neighbor_id"),
                       ["query_id", "neighbor_id"], "left_semi")
            .select("query_id", "neighbor_id",
                    F.round("cosine_sim", 6).alias("cosine_sim"), "rank"))


def q_cosine_topk_blocked(spark, sf):
    """Exact cosine top-5 via the BLOCK-GRID fallback
    (broadcast_queries=False, pipeline/similarity.py
    _blocked_exact_topk): queries and corpus hash into a grid of
    (q-block, c-block) cells, each cell scored by one cogrouped Arrow
    matmul emitting only its local top-k — the plan for query sets too
    large to broadcast.  Must equal the broadcast-probe path exactly,
    so it shares q_cosine_topk's oracle."""
    emb = read_table(spark, sf, "embeddings")
    out = P.cosine_topk(emb.filter(F.col("vec_id") < 10), emb, k=5, dim=64,
                        broadcast_queries=False,
                        n_query_blocks=3, n_corpus_blocks=5)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


def q_embedding_neardup_exact(spark, sf):
    """Exact embedding near-dup pairs (cosine >= 0.3) on a capped subset —
    the ground truth the LSH variant approximates.  (0.3, not a higher
    cut: the synthetic embeddings top out near cosine 0.5, so 0.3 keeps
    the check non-vacuous with ~1k matching pairs.)"""
    emb = read_table(spark, sf, "embeddings").filter(F.col("vec_id") < 1000)
    out = P.cosine_topk(emb, emb, k=1000, broadcast_queries=True, dim=64)
    return (out.filter((F.col("cosine_sim") >= 0.3)
                       & (F.col("query_id") < F.col("neighbor_id")))
            .select(F.col("query_id").alias("id_a"),
                    F.col("neighbor_id").alias("id_b"),
                    F.round("cosine_sim", 6).alias("cosine_sim")))


_Q_EMB_NEARDUP_SQL = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id < 1000)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.3
"""


# --- approximate tier: oracle-backed recall certificates (VERDICT r1 #7) --
#
# The hash families (xxhash64-based) cannot be recomputed in DuckDB, so the
# driver-checked output is a recall INVARIANT instead: the query returns the
# exact-Jaccard ground-truth pairs that the approximate operator recovers;
# the oracle is the ground truth itself.  The row hashes green if and only
# if recall is 1.0 at the stated threshold — empirically 3+sigma-safe: the
# corpus' planted near-dups all have jaccard >= 0.9 at sf0.01 (banding miss
# probability < 1e-6 per pair for MinHash; SimHash pairs measured at
# Hamming <= 5 vs the pigeonhole guarantee of <= 15 for blocks=16).  The
# raw operators (bare LSH output) stay benchmarked via bench.py's *_raw
# entries and value-tested in tests/test_pipeline.py.

def q_minhash_lsh_raw(spark, sf):
    docs = read_table(spark, sf, "documents")
    return P.minhash_near_dup_pairs(docs, k=2, num_hashes=64, bands=16,
                                    threshold=0.3)


def q_minhash_lsh(spark, sf):
    """MinHash-LSH recall certificate: exact trigram-Jaccard pairs >= 0.8
    that LSH banding (64 hashes, 16 bands) recovers with estimate >= 0.3;
    green iff it recovers all of them."""
    docs = read_table(spark, sf, "documents")
    cand = P.minhash_near_dup_pairs(docs, k=2, num_hashes=64, bands=16,
                                    threshold=0.3)
    exact = P.ngram_jaccard_pairs(docs, k=3, threshold=0.8, max_doc_freq=50)
    return (exact.join(cand.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def q_cross_dedup(spark, sf):
    """Cross-corpus MinHash recall certificate: exact trigram-Jaccard pairs
    >= 0.8 that STRADDLE the corpus/benchmark split (doc_id % 20) and that
    minhash_cross_dup_pairs (64 hashes, 16 bands, broadcast bench side)
    recovers with estimate >= 0.3; green iff it recovers all of them."""
    docs = read_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    cand = P.minhash_cross_dup_pairs(corpus, bench, k=2, num_hashes=64,
                                     bands=16, threshold=0.3)
    cand_n = cand.select(F.least("corpus_id", "other_id").alias("id_a"),
                         F.greatest("corpus_id", "other_id").alias("id_b"))
    exact = (P.ngram_jaccard_pairs(docs, k=3, threshold=0.8, max_doc_freq=50)
             .filter((F.col("id_a") % 20 == 0) != (F.col("id_b") % 20 == 0)))
    return (exact.join(cand_n, ["id_a", "id_b"], "left_semi")
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


_Q_CROSS_DEDUP_SQL = f"""
    WITH {_ngram_pairs_ctes(0.8)}
    SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM pairs
    WHERE (id_a % 20 = 0) != (id_b % 20 = 0)
"""


def q_simhash_raw(spark, sf):
    docs = read_table(spark, sf, "documents")
    return P.simhash_near_dup_pairs(docs, max_hamming=8)


def q_simhash(spark, sf):
    """SimHash recall certificate: exact trigram-Jaccard pairs >= 0.8 that
    the simhash pigeonhole join finds within Hamming distance 15 (blocks=16
    guarantees detection up to 15; pairs measure <= 8); green iff recall=1."""
    docs = read_table(spark, sf, "documents")
    cand = P.simhash_near_dup_pairs(docs, max_hamming=15, blocks=16)
    exact = P.ngram_jaccard_pairs(docs, k=3, threshold=0.8, max_doc_freq=50)
    return (exact.join(cand.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def q_lsh_ann(spark, sf):
    """Multi-probe hyperplane LSH ANN: selective 8-plane buckets, recall
    recovered by Hamming-1 probing on the broadcast query side; corpus is
    scanned once with no shuffle (VERDICT r1 #3).  Fully oracle-checked:
    the hyperplane matrix is deterministic (seeded), so the DuckDB twin
    (_Q_LSH_ANN_SQL) replays the identical algorithm — signatures, probes,
    bucket join, exact re-scoring, top-k — from literal hyperplanes."""
    emb = read_table(spark, sf, "embeddings")
    out = P.lsh_cosine_topk(emb.filter(F.col("vec_id") < 20), emb, k=5,
                            dim=64, planes=8, tables=12, probe_bits=1)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


def _lsh_ann_sql(dim=64, planes=8, tables=12, seed=42, n_queries=20, k=5) -> str:
    """DuckDB twin of q_lsh_ann.  Regenerates the exact +-1 hyperplane table
    of pipeline.similarity._rh_signatures (same seeded RandomState, same
    plane-major layout) as SQL literals; sign tests and bit packing mirror
    the pandas-UDF matmul bit for bit (sign flips would need |dot| < 1e-12,
    probability ~0 for these embeddings)."""
    import numpy as np

    rnd = np.random.RandomState(seed)
    n = planes * tables
    hyper = np.where(rnd.rand(n, dim) < 0.5, 1.0, -1.0)
    rows = ",\n      ".join(
        "({}, [{}]::DOUBLE[])".format(
            j, ",".join("1" if v > 0 else "-1" for v in hyper[j]))
        for j in range(n))
    return f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    hp(j, h) AS (VALUES
      {rows}
    ),
    sigs AS (
      SELECT e.vec_id, hp.j // {planes} AS table_idx,
             sum(CASE WHEN list_dot_product(e.v, hp.h) > 0
                      THEN (1::BIGINT << (hp.j % {planes})) ELSE 0 END)::BIGINT AS sig
      FROM emb e, hp GROUP BY e.vec_id, hp.j // {planes}
    ),
    qsig AS (SELECT vec_id AS query_id, table_idx, sig FROM sigs
             WHERE vec_id < {n_queries}),
    probes AS (
      SELECT query_id, table_idx, sig FROM qsig
      UNION
      SELECT query_id, table_idx, xor(sig, (1::BIGINT << b.b)) AS sig
      FROM qsig, (SELECT unnest(range({planes})) AS b) b
    ),
    cand AS (
      SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id
      FROM probes p JOIN sigs s ON p.table_idx = s.table_idx AND p.sig = s.sig
      WHERE s.vec_id <> p.query_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             list_cosine_similarity(q.v, n.v) AS sim,
             row_number() OVER (PARTITION BY c.query_id
                                ORDER BY list_cosine_similarity(q.v, n.v) DESC,
                                         c.neighbor_id) AS rank
      FROM cand c JOIN emb q ON q.vec_id = c.query_id
                  JOIN emb n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim, rank
    FROM scored WHERE rank <= {k}
"""


def q_stream_resample_interval(spark, sf):
    """Streaming resample_interval (batch dispatch): duration-weighted sums
    of synthetic event intervals [ts, ts + (event_id%5) hours] over daily
    tumbling windows; zero-length intervals (event_id%5 == 0) contribute
    their full value to the day containing the point."""
    e = read_table(spark, sf, "events")
    ts = F.col("ts").cast("timestamp")
    iv = e.select(
        F.col("user_id").alias("entity"),
        ts.alias("start"),
        F.timestamp_micros(
            F.unix_micros(ts) + (F.col("event_id") % 5)
            * F.lit(3_600_000_000)).alias("stop"),
        F.col("event_type").alias("attribute"),
        F.when(F.col("event_type") != "error", F.col("value")).alias("value"))
    out = STRM.stream_resample_interval(iv, ["click", "view"], "1 day")
    return out.select(
        "entity",
        F.unix_micros("window_start").alias("ws"),
        F.unix_micros("window_stop").alias("wp"),
        F.round("click", 6).alias("click"),
        F.round("view", 6).alias("view"))


_DAY_US = 86_400_000_000
_Q_STREAM_RESAMPLE_INTERVAL_SQL = f"""
    WITH iv AS (
      SELECT user_id AS entity, epoch_us(ts)::BIGINT AS a,
             epoch_us(ts)::BIGINT + (event_id % 5) * 3600000000 AS b,
             event_type AS attribute,
             CASE WHEN event_type != 'error' THEN value END AS v
      FROM events
      WHERE event_type IN ('click', 'view') AND user_id IS NOT NULL
    ),
    ex AS (
      SELECT entity, attribute, a, b, v, g.i AS widx
      FROM iv, LATERAL (SELECT unnest(generate_series(
        a // {_DAY_US}, b // {_DAY_US})) AS i) g
    ),
    c AS (
      SELECT entity, attribute, widx,
        CASE WHEN b = a THEN 1.0
             ELSE greatest(least(b, (widx + 1) * {_DAY_US})
                           - greatest(a, widx * {_DAY_US}), 0)::DOUBLE / (b - a)
        END AS factor,
        coalesce(v, 0) AS v0
      FROM ex
    )
    SELECT entity, widx * {_DAY_US} AS ws, (widx + 1) * {_DAY_US} AS wp,
           round(sum(CASE WHEN attribute = 'click' THEN v0 * factor ELSE 0 END), 6)
             AS click,
           round(sum(CASE WHEN attribute = 'view' THEN v0 * factor ELSE 0 END), 6)
             AS view
    FROM c WHERE factor > 0
    GROUP BY entity, widx
"""


def q_stream_resample(spark, sf):
    """stream_resample_eav (streaming analogue of regular-window
    resample_eav, reference resampling.py:1738-1763) in batch mode: the
    identical window expression runs incrementally under readStream +
    watermark (exercised in tests/test_streaming.py).  Tumbling 1-day
    windows per user with conditional per-attribute aggregates."""
    e = read_table(spark, sf, "events").select(
        F.col("user_id").alias("entity"),
        F.col("ts").alias("timestamp"),
        F.col("event_type").alias("attribute"),
        F.when(F.col("event_type") != "error", F.col("value")).alias("value"))
    out = STRM.stream_resample_eav(
        e, {"click": ["count", "mean", "sum"], "view": ["count"]},
        duration="1 day")
    return out.select(
        "entity",
        F.unix_micros(F.col("window_start").cast("timestamp")).alias("w_start"),
        "click_count",
        F.round("click_mean", 6).alias("click_mean"),
        F.round("click_sum", 6).alias("click_sum"),
        "view_count")


_Q_STREAM_RESAMPLE_SQL = f"""
    WITH e AS ({_EV_SQL}),
    b AS (SELECT uid AS entity, (t // 86400000000) * 86400000000 AS w_start,
                 etype, val
          FROM e WHERE etype IN ('click', 'view'))
    SELECT entity, w_start,
           count(CASE WHEN etype = 'click' THEN val END) AS click_count,
           round(avg(CASE WHEN etype = 'click' THEN val END), 6) AS click_mean,
           round(sum(CASE WHEN etype = 'click' THEN val END), 6) AS click_sum,
           count(CASE WHEN etype = 'view' THEN val END) AS view_count
    FROM b GROUP BY entity, w_start
"""


def q_ivf_ann(spark, sf):
    """IVF-flat ANN (the second scale path besides LSH): deterministic
    codebook = the 16 lowest-id corpus vectors, probe the 4 nearest cells
    per query, exact re-score.  Fully oracle-checked: the DuckDB twin
    replays cell assignment, probing, and top-k from the same codebook."""
    emb = read_table(spark, sf, "embeddings")
    out = P.ivf_cosine_topk(emb.filter(F.col("vec_id") < 20), emb, k=5,
                            n_centroids=16, n_probe=4, dim=64)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


_Q_IVF_ANN_SQL = """
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM emb WHERE vec_id < 16),
    asgn AS (
      SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                                         c.cid) AS rn
      FROM emb e CROSS JOIN cent c
    ),
    cells AS (SELECT vec_id, cid AS cell FROM asgn WHERE rn = 1),
    qprobe AS (SELECT vec_id AS query_id, cid AS cell FROM asgn
               WHERE vec_id < 20 AND rn <= 4),
    cand AS (
      SELECT p.query_id, ce.vec_id AS neighbor_id
      FROM qprobe p JOIN cells ce ON ce.cell = p.cell
      WHERE ce.vec_id <> p.query_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             list_cosine_similarity(q.v, n.v) AS sim,
             row_number() OVER (PARTITION BY c.query_id
                                ORDER BY list_cosine_similarity(q.v, n.v) DESC,
                                         c.neighbor_id) AS rank
      FROM cand c JOIN emb q ON q.vec_id = c.query_id
                  JOIN emb n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim, rank
    FROM scored WHERE rank <= 5
"""


def q_kmeans_ann(spark, sf):
    """IVF-flat ANN over a TRAINED spherical-k-means codebook
    (pipeline.kmeans_codebook): 2 Lloyd iterations of cosine assignment
    (one Arrow matmul scan) + per-dim mean update (one map-side-
    combinable groupBy per iteration), means rounded to 6 decimals so the
    loop is engine-replayable; then the same single-scan broadcast-probe
    IVF search as q_ivf_ann.  Fully oracle-checked: the DuckDB twin
    replays init (8 lowest-id vectors), both Lloyd iterations (empty
    cells keep their previous centroid), cell assignment, 2-cell probing
    and exact re-scoring from the same deterministic recipe."""
    emb = read_table(spark, sf, "embeddings")
    book = P.kmeans_codebook(emb, n_centroids=8, n_iter=2, dim=64,
                             normalize=False, round_decimals=6)
    out = P.ivf_cosine_topk(emb.filter(F.col("vec_id") < 20), emb, k=5,
                            n_probe=2, dim=64, centroids=book)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


def _kmeans_ann_sql(k_cells=8, iters=2, dim=64, n_queries=20, n_probe=2,
                    topk=5) -> str:
    """DuckDB twin of q_kmeans_ann: replays the deterministic spherical
    k-means loop (init = lowest-id vectors as cells 0..k-1, cosine
    assignment with ties to the lowest cell, per-dim means rounded to 6,
    empty cells carry the previous centroid) and then the IVF-flat
    probe/re-score skeleton of _Q_IVF_ANN_SQL."""
    mean_list = ", ".join(f"round(avg(a.v[{d + 1}]), 6)" for d in range(dim))
    parts = [f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
      FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT {k_cells})
    )"""]
    for i in range(1, iters + 1):
        parts.append(f""",
    a{i} AS (
      SELECT e.vec_id, e.v, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_cosine_similarity(e.v, c.cv)
                                         DESC, c.cid) AS rn
      FROM emb e CROSS JOIN c{i - 1} c
    ),
    m{i} AS (
      SELECT a.cid, [{mean_list}]::DOUBLE[] AS mv
      FROM a{i} a WHERE a.rn = 1 GROUP BY a.cid
    ),
    c{i} AS (
      SELECT p.cid, coalesce(m.mv, p.cv) AS cv
      FROM c{i - 1} p LEFT JOIN m{i} m ON m.cid = p.cid
    )""")
    parts.append(f""",
    asgn AS (
      SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_cosine_similarity(e.v, c.cv)
                                         DESC, c.cid) AS rn
      FROM emb e CROSS JOIN c{iters} c
    ),
    cells AS (SELECT vec_id, cid AS cell FROM asgn WHERE rn = 1),
    qprobe AS (SELECT vec_id AS query_id, cid AS cell FROM asgn
               WHERE vec_id < {n_queries} AND rn <= {n_probe}),
    cand AS (
      SELECT p.query_id, ce.vec_id AS neighbor_id
      FROM qprobe p JOIN cells ce ON ce.cell = p.cell
      WHERE ce.vec_id <> p.query_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             list_cosine_similarity(q.v, n.v) AS sim,
             row_number() OVER (PARTITION BY c.query_id
                                ORDER BY list_cosine_similarity(q.v, n.v)
                                         DESC, c.neighbor_id) AS rank
      FROM cand c JOIN emb q ON q.vec_id = c.query_id
                  JOIN emb n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim, rank
    FROM scored WHERE rank <= {topk}""")
    return "".join(parts)


_Q_KMEANS_ANN_SQL = _kmeans_ann_sql()


def q_semantic_dedup(spark, sf):
    """SemDeDup-style semantic deduplication (pipeline/similarity.py
    semantic_dedup; Abbas et al. 2023): corpus = embeddings plus an exact
    duplicate of the 40 lowest-id vectors shifted to vec_id+1000 (the
    raw table has no near-dup pairs — max pairwise cosine 0.51 — so the
    query plants ground truth FROM the driver table itself, same move as
    the recall-certificate queries).  Deterministic codebook = the 8
    lowest-id vectors (IVF's reproducible init).  All outputs are
    integers/booleans: assignment, within-cell pairwise edges at
    threshold 0.9 (planted pairs are cosine 1, next real pair 0.51 —
    huge decision margins), connected components, and the paper's
    lowest-centroid-cosine keeper (exact duplicates tie bit-identically
    in both engines and fall back to min id).  The DuckDB twin replays
    assignment via arg-max over the same codebook, edges, a
    recursive-CTE min-label union, and the keeper struct-min."""
    emb = read_table(spark, sf, "embeddings").select("vec_id", "embedding")
    dup = (emb.filter(F.col("vec_id") < 40)
           .select((F.col("vec_id") + 1000).alias("vec_id"), "embedding"))
    corpus = emb.unionByName(dup)
    cb_rows = emb.orderBy("vec_id").limit(8).collect()
    centroids = [(i, [float(x) for x in r["embedding"]])
                 for i, r in enumerate(cb_rows)]
    out = P.semantic_dedup(corpus, threshold=0.9, centroids=centroids,
                           dim=64)
    return out.select("vec_id", "cell", "group_rep", "keep")


_Q_SEMANTIC_DEDUP_SQL = """
    WITH RECURSIVE corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000, embedding::DOUBLE[] FROM embeddings
      WHERE vec_id < 40
    ),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
             embedding::DOUBLE[] AS cv
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT 8)
    ),
    ranked AS (
      SELECT c.vec_id, b.cell,
             list_cosine_similarity(c.v, b.cv) AS s,
             row_number() OVER (PARTITION BY c.vec_id
                                ORDER BY list_cosine_similarity(c.v, b.cv)
                                         DESC, b.cell) AS rn
      FROM corpus c CROSS JOIN cb b
    ),
    assigned AS (
      SELECT vec_id, cell, s AS csim FROM ranked WHERE rn = 1
    ),
    edges AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM assigned a
      JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id
      JOIN corpus ea ON ea.vec_id = a.vec_id
      JOIN corpus eb ON eb.vec_id = b.vec_id
      WHERE list_cosine_similarity(ea.v, eb.v) > 0.9
    ),
    reach(id, lbl) AS (
      SELECT vec_id, vec_id FROM assigned
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    ),
    comp AS (SELECT id AS vec_id, min(lbl) AS grp FROM reach GROUP BY id),
    keeper AS (
      SELECT c.grp,
             min(struct_pack(csim := a.csim, id := a.vec_id)).id AS rep
      FROM comp c JOIN assigned a ON a.vec_id = c.vec_id
      GROUP BY c.grp
    )
    SELECT a.vec_id, a.cell, k.rep AS group_rep,
           (k.rep = a.vec_id) AS keep
    FROM assigned a
    JOIN comp c ON c.vec_id = a.vec_id
    JOIN keeper k ON k.grp = c.grp
"""


def q_semantic_decontaminate(spark, sf):
    """Embedding-space benchmark decontamination (pipeline/similarity.py
    semantic_decontaminate): benchmark = the 25 lowest-id embeddings,
    corpus = the whole table — the benchmark rows ARE in the corpus, so
    exactly those 25 are contaminated (cosine 1 vs threshold 0.99; the
    best non-identical pair is 0.51).  ZERO corpus shuffle: the
    broadcast benchmark matrix scores each Arrow batch in one matmul.
    Projects the discrete columns only (max_bench_sim is float and BLAS
    vs DuckDB summation differ in the ulp; the argmax id and threshold
    verdict are exact under the data's margins)."""
    emb = read_table(spark, sf, "embeddings").select("vec_id", "embedding")
    bench = emb.filter(F.col("vec_id") < 25)
    out = P.semantic_decontaminate(emb, bench, threshold=0.99)
    return out.select("vec_id", "nearest_bench_id", "contaminated")


_Q_SEMANTIC_DECONTAM_SQL = """
    WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
    bench AS (SELECT vec_id, embedding::DOUBLE[] AS bv FROM embeddings
              WHERE vec_id < 25),
    scored AS (
      SELECT c.vec_id, b.vec_id AS bid,
             list_cosine_similarity(c.v, b.bv) AS s,
             row_number() OVER (PARTITION BY c.vec_id
                                ORDER BY list_cosine_similarity(c.v, b.bv)
                                         DESC, b.vec_id) AS rn
      FROM corpus c CROSS JOIN bench b
    )
    SELECT vec_id,
           max(CASE WHEN rn = 1 THEN bid END) AS nearest_bench_id,
           max(s) >= 0.99 AS contaminated
    FROM scored GROUP BY vec_id
"""


def q_funnel(spark, sf):
    """Event-funnel analysis (operators/events.py): per user, greedy
    earliest-completion matching of view -> click -> purchase within 7
    days; one shuffle on the user + an O(k)-state array fold.  The DuckDB
    twin replays the greedy semantics as a min-after-min join chain."""
    ev = read_table(spark, sf, "events")
    out = cps.funnel(ev, ["view", "click", "purchase"],
                     entity_col="user_id", time_col="ts",
                     type_col="event_type", within=7 * 86400)
    return out.select(
        F.col("user_id").alias("entity"), "n_stages", "converted",
        F.unix_micros(F.col("t_first").cast("timestamp")).alias("t_first"),
        F.unix_micros(F.col("t_convert").cast("timestamp")).alias("t_convert"))


_Q_FUNNEL_SQL = """
    WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t1
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t3
           FROM events e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2
           GROUP BY e.user_id)
    SELECT s1.user_id AS entity,
           CASE WHEN t3 IS NOT NULL THEN 3
                WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS n_stages,
           coalesce(epoch_us(t3) - epoch_us(s1.t1) <= 7 * 86400 * 1000000::BIGINT,
                    FALSE) AS converted,
           epoch_us(s1.t1)::BIGINT AS t_first,
           CASE WHEN coalesce(epoch_us(t3) - epoch_us(s1.t1)
                              <= 7 * 86400 * 1000000::BIGINT, FALSE)
                THEN epoch_us(t3)::BIGINT END AS t_convert
    FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


def q_bpe_train(spark, sf):
    """REAL distributed BPE tokenizer training (pipeline/bpe.py): one
    word-count shuffle -> driver-side merge learning on the (word, count)
    sufficient statistics -> broadcast-vocab map-only tokenization.  The
    oracle cannot replay the merge loop in SQL, so the output is the
    certificate pattern (cf. q_multimodal_jpeg): per-document booleans of
    two hard invariants computed from the ACTUAL tokens — (a) BPE decode
    reassembles the lowercased whitespace-normalized text exactly,
    (b) the token count respects the per-word upper bound (chars + 1
    end-of-word marker per word)."""
    docs = read_table(spark, sf, "documents").select("doc_id", "text") \
        .filter(F.col("doc_id") < 300)
    merges = P.train_bpe(docs, n_merges=100)
    out = P.bpe_tokenize(docs, merges, tokens_col="__toks__")
    norm = F.lower(F.regexp_replace(F.trim(F.coalesce(F.col("text"),
                                                      F.lit(""))),
                                    r"\s+", " "))
    dec = F.rtrim(F.regexp_replace(F.array_join("__toks__", ""),
                                   "</w>", " "))
    words = F.filter(F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))),
                             r"\s+"), lambda t: t != "")
    bound = (F.length(F.regexp_replace(norm, " ", ""))
             + F.size(words))
    return out.select(
        "doc_id",
        (dec == norm).alias("roundtrip_ok"),
        (F.col("n_bpe_tokens") <= bound).alias("within_bound"))


_Q_BPE_TRAIN_SQL = """
    SELECT doc_id, TRUE AS roundtrip_ok, TRUE AS within_bound
    FROM documents WHERE doc_id < 300
"""


def q_stream_funnel(spark, sf):
    """stream_funnel (custom stateful streaming op: per-entity greedy
    stage matching with O(k) state via applyInPandasWithState) in
    batch-dispatch mode — identical greedy semantics to the batch funnel,
    no `within` bound.  The incremental cross-micro-batch path is
    exercised in tests/test_streaming.py."""
    ev = read_table(spark, sf, "events")
    out = STRM.stream_funnel(ev, ["view", "click", "purchase"],
                             entity_col="user_id", time_col="ts",
                             type_col="event_type")
    return out.select(
        F.col("user_id").alias("entity"), "n_stages", "converted",
        F.unix_micros(F.col("t_first").cast("timestamp")).alias("t_first"),
        F.unix_micros(F.col("t_convert").cast("timestamp")).alias("t_convert"))


_Q_STREAM_FUNNEL_SQL = """
    WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t1
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t3
           FROM events e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2
           GROUP BY e.user_id)
    SELECT s1.user_id AS entity,
           CASE WHEN t3 IS NOT NULL THEN 3
                WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS n_stages,
           t3 IS NOT NULL AS converted,
           epoch_us(s1.t1)::BIGINT AS t_first,
           epoch_us(t3)::BIGINT AS t_convert
    FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


def q_lm_perplexity(spark, sf):
    """CCNet-style bigram-LM perplexity scoring (pipeline/text.py
    train_ngram_lm + ngram_perplexity): two capped count shuffles train
    the model (unigram explode + map-only arrays_zip bigrams — the
    sufficient statistics, KBs at any corpus size), then a broadcast
    map-only Arrow scorer adds add-1-smoothed perplexity per document —
    the standard quality-filter signal for training-data curation.  The
    DuckDB twin replays tokenization (zipped unnest), both capped count
    tables with the same deterministic ordering, and the smoothed
    log-prob average."""
    docs = read_table(spark, sf, "documents")
    model = P.train_ngram_lm(docs)
    out = P.ngram_perplexity(docs, model)
    return out.select("doc_id", "n_bigrams",
                      F.round("perplexity", 6).alias("perplexity"))


_Q_LM_PERPLEXITY_SQL = """
    WITH toks0 AS (
      SELECT doc_id, unnest(l) AS tok,
             unnest(range(1, len(l) + 1)) AS ord
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS l
            FROM documents)
    ),
    toks AS (SELECT * FROM toks0 WHERE tok != ''),
    uni AS (
      SELECT tok, count(*) AS n FROM toks GROUP BY tok
      ORDER BY n DESC, tok LIMIT 50000
    ),
    pairs AS (
      SELECT doc_id, tok AS w1,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
      FROM toks
    ),
    big AS (
      SELECT w1, w2, count(*) AS n FROM pairs WHERE w2 IS NOT NULL
      GROUP BY w1, w2 ORDER BY n DESC, w1, w2 LIMIT 200000
    ),
    vv AS (SELECT count(*) + 1 AS v FROM uni),
    scored AS (
      SELECT p.doc_id,
             least(0.0, ln((coalesce(b.n, 0) + 1.0)
                           / (coalesce(u.n, 0) + vv.v))) AS lp
      FROM pairs p CROSS JOIN vv
      LEFT JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2
      LEFT JOIN uni u ON u.tok = p.w1
      WHERE p.w2 IS NOT NULL
    )
    SELECT doc_id, count(*) AS n_bigrams,
           round(exp(-avg(lp)), 6) AS perplexity
    FROM scored GROUP BY doc_id
"""


def q_line_dedup(spark, sf):
    """C4-style line-frequency filtering (pipeline/dedup.py
    line_frequency_filter — Raffel et al. 2020 §2.2): the query plants
    boilerplate FROM the driver table (each document gains one of 5
    shared footer lines plus a unique tail line), then removes every
    line occurring >= 10 times corpus-wide and reassembles documents in
    order.  Footers (>= docs/5 occurrences) must vanish, unique bodies
    and tails survive (max body multiplicity in the table is 2).  Spark
    counts xxhash64(line) — 8 shuffled bytes per line; the DuckDB twin
    counts the exact STRINGS, so the hash-match doubles as a collision
    canary (the ExactSubstr design)."""
    docs = read_table(spark, sf, "documents").select("doc_id", "text")
    docs2 = docs.withColumn(
        "text",
        F.concat_ws(
            "\n", F.col("text"),
            F.concat(F.lit("shared footer "),
                     (F.col("doc_id") % 5).cast("string")),
            F.concat(F.lit("tail "), F.col("doc_id").cast("string"))))
    out = P.line_frequency_filter(docs2, min_count=10)
    return out.select("doc_id", "text", "n_lines_removed")


_Q_LINE_DEDUP_SQL = """
    WITH d2 AS (
      SELECT doc_id,
             text || chr(10) || 'shared footer ' || (doc_id % 5)::VARCHAR
                  || chr(10) || 'tail ' || doc_id::VARCHAR AS text
      FROM documents
    ),
    lines AS (
      SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
             unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
      FROM d2
    ),
    dup AS (SELECT line FROM lines WHERE length(line) >= 1
            GROUP BY line HAVING count(*) >= 10),
    kept AS (SELECT l.doc_id, l.pos, l.line FROM lines l
             LEFT JOIN dup d USING (line) WHERE d.line IS NULL),
    agg AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
             count(*) AS n
      FROM kept GROUP BY doc_id
    )
    SELECT d2.doc_id, coalesce(a.text, '') AS text,
           (len(string_split(d2.text, chr(10)))
            - coalesce(a.n, 0))::BIGINT AS n_lines_removed
    FROM d2 LEFT JOIN agg a USING (doc_id)
"""


def q_weighted_sample(spark, sf):
    """Exact-N weighted sampling without replacement (pipeline/sampling.py
    weighted_sample — Efraimidis & Spirakis 2006 A-Res): 25 documents
    drawn proportionally to n_chars via deterministic md5-uniform keys
    ln(u)/w, selected by Spark's TakeOrdered (per-partition top-n, no
    full sort shuffle).  The DuckDB twin replays the digest, the 60-bit
    uniform, the key and the (key desc, digest asc) order exactly —
    selection ids match bit-for-bit because every arithmetic step is
    engine-neutral (md5, exact 60-bit-int-to-double, one ln whose
    cross-engine ulp is far under the rank margins)."""
    docs = read_table(spark, sf, "documents")
    out = P.weighted_sample(docs, 25, "n_chars", on="doc_id", seed=5)
    return out.select("doc_id", "lang")


_Q_WEIGHTED_SAMPLE_SQL = """
    WITH keyed AS (
      SELECT doc_id, lang,
             md5(concat_ws('|', '5', doc_id::VARCHAR)) AS dig
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang FROM keyed
    ORDER BY ln((('0x' || substr(dig, 1, 15))::BIGINT + 0.5)
                / power(16.0, 15))
             / (SELECT n_chars::DOUBLE FROM documents d
                WHERE d.doc_id = keyed.doc_id) DESC,
             dig ASC
    LIMIT 25
"""


def q_dsir(spark, sf):
    """DSIR importance log-weights (pipeline/text.py dsir_logratio — Xie
    et al. 2023): target model = the capped bigram LM of the ENGLISH
    slice, raw model = the whole corpus; each document's weight is the
    per-bigram mean add-1 log-prob difference, scored for both models in
    ONE broadcast Arrow pass (zero shuffle, one corpus scan).  Both
    models train from a single tagged count shuffle
    (``train_ngram_lm_pair`` — one corpus scan for all four capped
    tables, identical by construction to two separate trainings; the
    r13 optimization round's change, proven by this row's unchanged
    oracle).  The DuckDB twin replays shared tokenization, all four
    capped count tables with the same deterministic ordering, and the
    clamped smoothed log-prob difference."""
    docs = read_table(spark, sf, "documents")
    target, raw = P.train_ngram_lm_pair(docs, F.col("lang") == "en")
    out = P.dsir_logratio(docs, target, raw)
    return out.select("doc_id", "n_bigrams",
                      F.round("dsir_logratio", 6).alias("dsir_logratio"))


_Q_DSIR_SQL = """
    WITH toks0 AS (
      SELECT doc_id, unnest(l) AS tok,
             unnest(range(1, len(l) + 1)) AS ord
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS l
            FROM documents)
    ),
    toks AS (SELECT * FROM toks0 WHERE tok != ''),
    en_ids AS (SELECT doc_id FROM documents WHERE lang = 'en'),
    uni_r AS (
      SELECT tok, count(*) AS n FROM toks GROUP BY tok
      ORDER BY n DESC, tok LIMIT 50000
    ),
    uni_t AS (
      SELECT tok, count(*) AS n FROM toks
      WHERE doc_id IN (SELECT doc_id FROM en_ids)
      GROUP BY tok ORDER BY n DESC, tok LIMIT 50000
    ),
    pairs AS (
      SELECT doc_id, tok AS w1,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
      FROM toks
    ),
    big_r AS (
      SELECT w1, w2, count(*) AS n FROM pairs WHERE w2 IS NOT NULL
      GROUP BY w1, w2 ORDER BY n DESC, w1, w2 LIMIT 200000
    ),
    big_t AS (
      SELECT w1, w2, count(*) AS n FROM pairs
      WHERE w2 IS NOT NULL AND doc_id IN (SELECT doc_id FROM en_ids)
      GROUP BY w1, w2 ORDER BY n DESC, w1, w2 LIMIT 200000
    ),
    vr AS (SELECT count(*) + 1 AS v FROM uni_r),
    vt AS (SELECT count(*) + 1 AS v FROM uni_t),
    scored AS (
      SELECT p.doc_id,
             least(0.0, ln((coalesce(bt.n, 0) + 1.0)
                           / (coalesce(ut.n, 0) + vt.v)))
             - least(0.0, ln((coalesce(br.n, 0) + 1.0)
                             / (coalesce(ur.n, 0) + vr.v))) AS lp
      FROM pairs p CROSS JOIN vt CROSS JOIN vr
      LEFT JOIN big_t bt ON bt.w1 = p.w1 AND bt.w2 = p.w2
      LEFT JOIN uni_t ut ON ut.tok = p.w1
      LEFT JOIN big_r br ON br.w1 = p.w1 AND br.w2 = p.w2
      LEFT JOIN uni_r ur ON ur.tok = p.w1
      WHERE p.w2 IS NOT NULL
    )
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(lp), 6) AS dsir_logratio
    FROM scored GROUP BY doc_id
"""


def q_dsir_resample(spark, sf):
    """The full published DSIR recipe end-to-end (Xie et al. 2023 §3),
    chaining the two individually-green operators exactly as
    scripts/curation_demo.py wires them: dsir_logratio scores every
    document against the English-slice target LM vs the whole-corpus raw
    LM (one broadcast Arrow pass, zero shuffle), the weight is
    exp(logratio), and weighted_sample (A-Res) draws an exact-30
    importance-proportional subset via TakeOrdered — the resample-toward-
    target funnel stage.  The DuckDB twin replays BOTH stages: all four
    capped LM count tables, the clamped per-bigram log-prob difference,
    the unrounded per-doc mean, exp(), the md5 60-bit uniform, the
    ln(u)/w key and the (key desc, digest asc) cut.  Rank margins at
    this corpus size are ~12 orders of magnitude above the cross-engine
    ulp of the weight arithmetic, so the selected ids match exactly."""
    docs = read_table(spark, sf, "documents")
    target, raw = P.train_ngram_lm_pair(docs, F.col("lang") == "en")
    # id_cols passthrough keeps the payload column on the scored rows:
    # ONE corpus scan feeds scoring AND selection, zero joins (plan =
    # scan -> MapInPandas -> TakeOrderedAndProject)
    lr = P.dsir_logratio(docs, target, raw, id_cols=("doc_id", "lang"))
    weighted = lr.withColumn("dsir_w", F.exp(F.col("dsir_logratio")))
    out = P.weighted_sample(weighted, 30, "dsir_w", on="doc_id", seed=13)
    return out.select("doc_id", "lang",
                      F.round("dsir_logratio", 6).alias("dsir_logratio"))


_Q_DSIR_RESAMPLE_SQL = """
    WITH toks0 AS (
      SELECT doc_id, unnest(l) AS tok,
             unnest(range(1, len(l) + 1)) AS ord
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS l
            FROM documents)
    ),
    toks AS (SELECT * FROM toks0 WHERE tok != ''),
    en_ids AS (SELECT doc_id FROM documents WHERE lang = 'en'),
    uni_r AS (
      SELECT tok, count(*) AS n FROM toks GROUP BY tok
      ORDER BY n DESC, tok LIMIT 50000
    ),
    uni_t AS (
      SELECT tok, count(*) AS n FROM toks
      WHERE doc_id IN (SELECT doc_id FROM en_ids)
      GROUP BY tok ORDER BY n DESC, tok LIMIT 50000
    ),
    pairs AS (
      SELECT doc_id, tok AS w1,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
      FROM toks
    ),
    big_r AS (
      SELECT w1, w2, count(*) AS n FROM pairs WHERE w2 IS NOT NULL
      GROUP BY w1, w2 ORDER BY n DESC, w1, w2 LIMIT 200000
    ),
    big_t AS (
      SELECT w1, w2, count(*) AS n FROM pairs
      WHERE w2 IS NOT NULL AND doc_id IN (SELECT doc_id FROM en_ids)
      GROUP BY w1, w2 ORDER BY n DESC, w1, w2 LIMIT 200000
    ),
    vr AS (SELECT count(*) + 1 AS v FROM uni_r),
    vt AS (SELECT count(*) + 1 AS v FROM uni_t),
    scored AS (
      SELECT p.doc_id,
             least(0.0, ln((coalesce(bt.n, 0) + 1.0)
                           / (coalesce(ut.n, 0) + vt.v)))
             - least(0.0, ln((coalesce(br.n, 0) + 1.0)
                             / (coalesce(ur.n, 0) + vr.v))) AS lp
      FROM pairs p CROSS JOIN vt CROSS JOIN vr
      LEFT JOIN big_t bt ON bt.w1 = p.w1 AND bt.w2 = p.w2
      LEFT JOIN uni_t ut ON ut.tok = p.w1
      LEFT JOIN big_r br ON br.w1 = p.w1 AND br.w2 = p.w2
      LEFT JOIN uni_r ur ON ur.tok = p.w1
      WHERE p.w2 IS NOT NULL
    ),
    lr AS (SELECT doc_id, avg(lp) AS logratio FROM scored GROUP BY doc_id),
    keyed AS (
      SELECT d.doc_id, d.lang, lr.logratio,
             md5(concat_ws('|', '13', d.doc_id::VARCHAR)) AS dig
      FROM documents d JOIN lr ON lr.doc_id = d.doc_id
    )
    SELECT doc_id, lang, round(logratio, 6) AS dsir_logratio FROM keyed
    ORDER BY ln((('0x' || substr(dig, 1, 15))::BIGINT + 0.5)
                / power(16.0, 15))
             / exp(logratio) DESC,
             dig ASC
    LIMIT 30
"""


def q_ccnet_buckets(spark, sf):
    """The chained CCNet quality split (Wenzek et al. 2020 §4.3;
    pipeline/text.py quantile_buckets): bigram-LM perplexity scoring
    (broadcast map-only Arrow pass), then per-LANGUAGE head/middle/tail
    buckets at the EXACT 1/3, 2/3 rank quantiles — threshold = score at
    rank ceil(cut*n), computed by one distributed external sort (two
    windows over the lang partition — never percentile()'s exact
    in-memory aggregation buffer), reduced to an O(#langs) table and
    broadcast-joined back map-only.  Buckets operate on the 6-decimal-
    rounded perplexities in BOTH engines, so the rank thresholds see
    identical doubles (the rounding contract the green lm_perplexity
    row proves); ties at a threshold land in the lower bucket, making
    the assignment fully deterministic.  Oracle pre-validated verbatim
    in tests/test_pipeline.py::test_ccnet_buckets_duckdb_oracle."""
    docs = read_table(spark, sf, "documents")
    model = P.train_ngram_lm(docs)
    ppl = (P.ngram_perplexity(docs, model, id_cols=("doc_id", "lang"))
           .select("doc_id", "lang",
                   F.round("perplexity", 6).alias("perplexity")))
    return (P.quantile_buckets(ppl, "perplexity", group_by="lang")
            .select("doc_id", "lang", "perplexity", "bucket"))


_Q_CCNET_BUCKETS_SQL = """
    WITH toks0 AS (
      SELECT doc_id, unnest(l) AS tok,
             unnest(range(1, len(l) + 1)) AS ord
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS l
            FROM documents)
    ),
    toks AS (SELECT * FROM toks0 WHERE tok != ''),
    uni AS (
      SELECT tok, count(*) AS n FROM toks GROUP BY tok
      ORDER BY n DESC, tok LIMIT 50000
    ),
    pairs AS (
      SELECT doc_id, tok AS w1,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
      FROM toks
    ),
    big AS (
      SELECT w1, w2, count(*) AS n FROM pairs WHERE w2 IS NOT NULL
      GROUP BY w1, w2 ORDER BY n DESC, w1, w2 LIMIT 200000
    ),
    vv AS (SELECT count(*) + 1 AS v FROM uni),
    scored AS (
      SELECT p.doc_id,
             least(0.0, ln((coalesce(b.n, 0) + 1.0)
                           / (coalesce(u.n, 0) + vv.v))) AS lp
      FROM pairs p CROSS JOIN vv
      LEFT JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2
      LEFT JOIN uni u ON u.tok = p.w1
      WHERE p.w2 IS NOT NULL
    ),
    ppl AS (
      SELECT s.doc_id, d.lang, round(exp(-avg(s.lp)), 6) AS perplexity
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id
      GROUP BY s.doc_id, d.lang
    ),
    rk AS (
      SELECT doc_id, lang, perplexity,
             row_number() OVER (PARTITION BY lang ORDER BY perplexity)
               AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM ppl
    ),
    thr AS (
      SELECT lang,
             max(CASE WHEN rn = ceil(0.3333333333333333 * n)
                 THEN perplexity END) AS t0,
             max(CASE WHEN rn = ceil(0.6666666666666666 * n)
                 THEN perplexity END) AS t1
      FROM rk GROUP BY lang
    )
    SELECT p.doc_id, p.lang, p.perplexity,
           CASE WHEN p.perplexity <= thr.t0 THEN 'head'
                WHEN p.perplexity <= thr.t1 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ppl p JOIN thr USING (lang)
"""


def q_substring_dedup(spark, sf):
    """ExactSubstr duplication stats (pipeline/dedup.py
    exact_substring_stats — Lee et al. 2021): per document, the fraction
    of tokens covered by 6-token windows whose token sequence occurs >= 2
    times anywhere in the corpus — the substring-level boilerplate signal
    document-level dedup misses.  Plan: window hashes built inside one
    codegen transform over the token array (never replicated per
    window), one count shuffle on the 8-byte hash, one semi-join back,
    per-doc interval-union fold.  The DuckDB twin groups on the window
    STRINGS themselves, so a Spark-side xxhash64 collision would
    hash-mismatch — the check doubles as a collision canary."""
    docs = read_table(spark, sf, "documents")
    return P.exact_substring_stats(docs, width=6)


_Q_SUBSTRING_DEDUP_SQL = """
    WITH toks0 AS (
      SELECT doc_id, unnest(l) AS tok, unnest(range(1, len(l) + 1)) AS ord
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS l
            FROM documents)
    ),
    toks AS (SELECT * FROM toks0 WHERE tok != ''),
    arr AS (SELECT doc_id, list(tok ORDER BY ord) AS l FROM toks
            GROUP BY doc_id),
    n AS (SELECT doc_id, len(l) AS n, l FROM arr),
    wins AS (
      SELECT nn.doc_id, t.s,
             array_to_string(nn.l[t.s : t.s + 5], ' ') AS win
      FROM n nn, unnest(range(1, nn.n - 4)) AS t(s)
      WHERE nn.n >= 6
    ),
    dup AS (SELECT win FROM wins GROUP BY win HAVING count(*) >= 2),
    ds AS (SELECT w.doc_id, w.s FROM wins w JOIN dup USING (win)),
    marked AS (
      SELECT doc_id, s,
             CASE WHEN s >= coalesce(max(s + 6) OVER (
                      PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_run
      FROM ds
    ),
    runs AS (SELECT doc_id, s,
                    sum(new_run) OVER (PARTITION BY doc_id ORDER BY s) AS rid
             FROM marked),
    agg AS (SELECT doc_id, rid, max(s) + 6 - min(s) AS cov
            FROM runs GROUP BY doc_id, rid),
    percov AS (SELECT doc_id, sum(cov) AS nd FROM agg GROUP BY doc_id)
    SELECT nn.doc_id, nn.n::BIGINT AS n_tokens,
           coalesce(p.nd, 0)::BIGINT AS n_dup_tokens,
           round(coalesce(p.nd, 0) / nn.n::DOUBLE, 6) AS dup_fraction
    FROM n nn LEFT JOIN percov p USING (doc_id)
"""


def q_substring_removal(spark, sf):
    """ExactSubstr REMOVAL (pipeline/dedup.py exact_substring_dedup):
    drop every token covered by a corpus-wide duplicated 6-token window
    and re-join the survivors (all occurrences removed, per Lee et al.
    2021).  Shares the candidate pipeline with substring_dedup; the
    reconstruction is one Arrow mapInPandas with an O(n + spans)
    difference-array mask.  The DuckDB twin rebuilds the text via an
    anti-covered string_agg over the same span runs."""
    docs = read_table(spark, sf, "documents")
    return P.exact_substring_dedup(docs, width=6)


_Q_SUBSTRING_REMOVAL_SQL = """
    WITH toks0 AS (
      SELECT doc_id, unnest(l) AS tok, unnest(range(1, len(l) + 1)) AS ord
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS l
            FROM documents)
    ),
    toks AS (SELECT * FROM toks0 WHERE tok != ''),
    arr AS (SELECT doc_id, list(tok ORDER BY ord) AS l FROM toks
            GROUP BY doc_id),
    n AS (SELECT doc_id, len(l) AS n, l FROM arr),
    wins AS (
      SELECT nn.doc_id, t.s,
             array_to_string(nn.l[t.s : t.s + 5], ' ') AS win
      FROM n nn, unnest(range(1, nn.n - 4)) AS t(s)
      WHERE nn.n >= 6
    ),
    dup AS (SELECT win FROM wins GROUP BY win HAVING count(*) >= 2),
    ds AS (SELECT w.doc_id, w.s FROM wins w JOIN dup USING (win)),
    marked AS (
      SELECT doc_id, s,
             CASE WHEN s >= coalesce(max(s + 6) OVER (
                      PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_run
      FROM ds
    ),
    runs AS (SELECT doc_id, s,
                    sum(new_run) OVER (PARTITION BY doc_id ORDER BY s) AS rid
             FROM marked),
    spans AS (SELECT doc_id, rid, min(s) AS s0, max(s) + 6 AS e0
              FROM runs GROUP BY doc_id, rid),
    pos AS (SELECT doc_id, unnest(l) AS tok,
                   unnest(range(1, len(l) + 1)) AS p
            FROM n),
    keptpos AS (
      SELECT t.doc_id, t.tok, t.p
      FROM pos t
      WHERE NOT EXISTS (SELECT 1 FROM spans sp
                        WHERE sp.doc_id = t.doc_id
                          AND t.p >= sp.s0 AND t.p < sp.e0)
    ),
    rec AS (SELECT doc_id, count(*) AS n_kept,
                   string_agg(tok, ' ' ORDER BY p) AS text_deduped
            FROM keptpos GROUP BY doc_id)
    SELECT nn.doc_id, nn.n::BIGINT AS n_tokens,
           coalesce(r.n_kept, 0)::BIGINT AS n_kept,
           coalesce(r.text_deduped, '') AS text_deduped
    FROM n nn LEFT JOIN rec r USING (doc_id)
"""


def q_stream_asof(spark, sf):
    """stream_asof (7th streaming op, streaming/__init__.py): backward
    as-of join of each click to the user's latest view value within the
    preceding 3 days, in batch-dispatch mode (-> operators.asof.merge_asof
    with direction="backward"); the O(1)-state applyInPandasWithState
    path over a union of two readStream sources is exercised in
    tests/test_streaming.py.  DuckDB oracle: native ASOF LEFT JOIN +
    tolerance post-filter."""
    ev = _ev(spark, sf)
    clicks = ev.filter(F.col("etype") == "click").select("eid", "uid", "t")
    views = (ev.filter((F.col("etype") == "view") & F.col("val").isNotNull())
             .groupBy("uid", "t").agg(F.max("val").alias("vval")))
    out = STRM.stream_asof(clicks, views, on="t", by="uid",
                           right_value="vval", tolerance=3 * DAY * 1e6)
    return out.select("eid", "uid", "t",
                      F.round("vval_asof", 6).alias("vval_asof"))


_Q_STREAM_ASOF_SQL = f"""
    WITH l AS (SELECT eid, uid, t FROM ({_EV_SQL}) WHERE etype = 'click'),
    r AS (SELECT uid, t, max(val) AS vval FROM ({_EV_SQL})
          WHERE etype = 'view' AND val IS NOT NULL GROUP BY uid, t)
    SELECT l.eid, l.uid, l.t,
           CASE WHEN l.t - r.t <= 259200000000::BIGINT
                THEN round(r.vval, 6) END AS vval_asof
    FROM l ASOF LEFT JOIN r ON l.uid = r.uid AND l.t >= r.t
"""


def q_retention(spark, sf):
    """Cohort retention matrix (operators/events.py): users cohorted by
    first-activity week, per-cell distinct-active counts — two combinable
    aggregates + one join, the minimal shuffle set."""
    ev = read_table(spark, sf, "events")
    out = cps.retention(ev, entity_col="user_id", time_col="ts", period="week")
    return out.select(F.col("cohort").cast("string").alias("cohort"),
                      "period_offset", "n_active")


_Q_RETENTION_SQL = """
    WITH ev AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS p FROM events),
    cohort AS (SELECT user_id, min(p) AS c FROM ev GROUP BY user_id)
    SELECT c::DATE::VARCHAR AS cohort,
           ((epoch(p) - epoch(c)) / (7 * 86400))::BIGINT AS period_offset,
           count(*) AS n_active
    FROM ev JOIN cohort USING (user_id)
    GROUP BY 1, 2
"""


def q_sessionize(spark, sf):
    """Streaming-native sessionization (F.session_window, batch mode here;
    the same expression runs incrementally under readStream + watermark —
    see catabra_pandas_spark/streaming).  Semantics = group_intervals with
    point_col and distance=30min (reference misc.py:125-257): events of one
    user closer than the gap form one session."""
    ev = read_table(spark, sf, "events").select(
        F.col("user_id").alias("entity"),
        F.col("ts").alias("timestamp"),
        F.when(F.col("event_type") != "error", F.col("value")).alias("value"))
    out = STRM.stream_sessionize(ev, "30 minutes", agg={"value": ["mean"]})
    return out.select(
        "entity",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("session_start"),
        F.unix_micros(F.col("session_stop").cast("timestamp")).alias("session_stop"),
        "n_events",
        F.round("value_mean", 6).alias("value_mean"))


_Q_SESSIONIZE_SQL = """
    WITH e AS (
      SELECT user_id AS entity, ts,
             CASE WHEN event_type != 'error' THEN value END AS val
      FROM events
    ), m AS (
      SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY entity ORDER BY ts)
    ), g AS (
      SELECT *, sum(brk) OVER (PARTITION BY entity ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT entity,
           epoch_us(min(ts))::BIGINT AS session_start,
           epoch_us(max(ts))::BIGINT AS session_stop,
           count(*) AS n_events,
           round(avg(val), 6) AS value_mean
    FROM g GROUP BY entity, sid
"""


def q_multimodal_decode(spark, sf):
    """REAL image decode, oracle-checked end-to-end (mirrors the pcm16
    trick of q_multimodal_audio): per-document a deterministic grayscale
    P5 netpbm payload is synthesized (header incl. a comment line, raster
    bytes a doc_id-seeded linear pattern), the mapInPandas netpbm decoder
    (pipeline/multimodal.py:74) recovers width/height/mean/std from the
    BYTES, and the DuckDB oracle recomputes the same statistics from the
    generating formula without ever seeing the binary — header parsing and
    raster layout must be byte-exact."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T
    import numpy as np

    docs = read_table(spark, sf, "documents").select("doc_id") \
        .filter(F.col("doc_id") < 200)

    @pandas_udf(T.BinaryType())
    def make_p5(doc_id):
        def build(d):
            d = int(d)
            w, h = d % 16 + 1, d % 8 + 1
            i = np.arange(w * h, dtype=np.int64)
            raster = ((d * 31 + i * 7) % 256).astype(np.uint8)
            hdr = b"P5\n# synthetic raster\n%d %d\n255\n" % (w, h)
            return hdr + raster.tobytes()
        return doc_id.map(build)

    d = docs.withColumn("payload", make_p5(F.col("doc_id")))
    d = P.attach_binary_metadata(d, "payload", modality="image",
                                 mime="image/x-portable-graymap")
    out = P.decode_binary(d, "payload")
    return out.select(
        "doc_id",
        F.element_at("features", 1).alias("width"),
        F.element_at("features", 2).alias("height"),
        F.element_at("features", 3).alias("channels"),
        F.round(F.element_at("features", 4), 6).alias("mean_gray"),
        F.round(F.element_at("features", 7), 6).alias("std_gray"),
        F.element_at("features", 8).alias("maxval"))


_Q_MULTIMODAL_DECODE_SQL = """
    WITH d AS (
      SELECT doc_id, doc_id % 16 + 1 AS w, doc_id % 8 + 1 AS h
      FROM documents WHERE doc_id < 200
    ),
    px AS (
      SELECT doc_id, w, h, (doc_id * 31 + unnest(range(0, w * h)) * 7) % 256 AS v
      FROM d
    )
    SELECT doc_id, w::DOUBLE AS width, h::DOUBLE AS height, 1.0 AS channels,
           round(avg(v), 6) AS mean_gray,
           round(stddev_pop(v), 6) AS std_gray,
           255.0 AS maxval
    FROM px GROUP BY doc_id, w, h
"""


def q_multimodal_audio(spark, sf):
    """REAL multimodal decode, oracle-checked end-to-end: per-user event
    values quantize to int16 samples, pack into a PCM16 binary payload,
    and the mapInPandas pcm16 decoder recovers waveform statistics; the
    DuckDB oracle recomputes the same statistics from the raw values
    without ever seeing the binary — the byte roundtrip must be exact."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T
    import numpy as np

    e = _ev(spark, sf).filter(F.col("val").isNotNull())
    clip = F.greatest(F.lit(-32768), F.least(F.lit(32767), F.floor(F.col("val") * 100)))
    samples = (e.select("uid", clip.cast("int").alias("s"), "t", "eid")
               .groupBy("uid")
               .agg(F.transform(
                   F.sort_array(F.collect_list(F.struct("t", "eid", "s"))),
                   lambda r: r["s"]).alias("samples")))

    @pandas_udf(T.BinaryType())
    def pack(col):
        return col.map(lambda s: np.asarray(s, dtype="<i2").tobytes())

    d = samples.withColumn("payload", pack(F.col("samples"))).drop("samples")
    d = P.attach_binary_metadata(d, "payload", modality="audio", mime="audio/pcm16")
    out = P.decode_binary(d, "payload")
    return out.select(
        "uid",
        F.element_at("features", 1).alias("n_samples"),
        F.round(F.element_at("features", 2), 6).alias("s_mean"),
        F.round(F.element_at("features", 3), 6).alias("s_rms"),
        F.element_at("features", 4).alias("s_min"),
        F.element_at("features", 5).alias("s_max"))


_Q_MULTIMODAL_AUDIO_SQL = f"""
    WITH e AS ({_EV_SQL}),
    s AS (SELECT uid,
                 greatest(-32768, least(32767, floor(val * 100)))::BIGINT AS s
          FROM e WHERE val IS NOT NULL)
    SELECT uid, count(*)::DOUBLE AS n_samples,
           round(avg(s), 6) AS s_mean,
           round(sqrt(avg(s * s)), 6) AS s_rms,
           min(s)::DOUBLE AS s_min, max(s)::DOUBLE AS s_max
    FROM s GROUP BY uid
"""


def q_multimodal_wav(spark, sf):
    """REAL WAV container roundtrip, oracle-checked end-to-end: a
    deterministic stereo int16 waveform per document is packed into
    genuine RIFF/WAVE bytes (pipeline/codecs.py wav_encode: fmt + data
    chunks), the mapInPandas WAV decoder walks the chunk list, mixes to
    mono and recovers waveform statistics from the BYTES; the DuckDB
    oracle recomputes the same statistics from the generating formula
    without ever seeing the binary — PCM is lossless, so exact."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    docs = read_table(spark, sf, "documents").select("doc_id") \
        .filter(F.col("doc_id") < 200)

    @pandas_udf(T.BinaryType())
    def make_wav(doc_id):
        import numpy as np

        from catabra_pandas_spark.pipeline.codecs import wav_encode

        def build(d):
            d = int(d)
            n = d % 50 + 4
            i = np.arange(n, dtype=np.int64)
            left = (d * 13 + i * 7) % 2001 - 1000
            right = (d * 17 + i * 11) % 2001 - 1000
            return wav_encode(
                np.stack([left, right], axis=1).astype(np.int16),
                sample_rate=8000)
        return doc_id.map(build)

    d = docs.withColumn("payload", make_wav(F.col("doc_id")))
    d = P.attach_binary_metadata(d, "payload", modality="audio",
                                 mime="audio/wav")
    out = P.decode_binary(d, "payload")
    return out.select(
        "doc_id",
        F.element_at("features", 1).alias("n_samples"),
        F.round(F.element_at("features", 2), 6).alias("s_mean"),
        F.element_at("features", 4).alias("s_min"),
        F.element_at("features", 5).alias("s_max"))


_Q_MULTIMODAL_WAV_SQL = """
    WITH d AS (SELECT doc_id, doc_id % 50 + 4 AS n
               FROM documents WHERE doc_id < 200),
    s AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d),
    v AS (SELECT doc_id,
                 (((doc_id * 13 + i * 7) % 2001 - 1000)
                  + ((doc_id * 17 + i * 11) % 2001 - 1000)) / 2.0 AS mono
          FROM s)
    SELECT doc_id, count(*)::DOUBLE AS n_samples,
           round(avg(mono), 6) AS s_mean,
           min(mono) AS s_min, max(mono) AS s_max
    FROM v GROUP BY doc_id
"""


def q_multimodal_mp3(spark, sf):
    """REAL MP3 header probe, oracle-checked end-to-end: per document a
    genuine MPEG-1 Layer III byte stream (valid frame headers + computed
    frame lengths, every 3rd doc wrapped in an ID3v2 tag) is built from
    doc_id-derived parameters, then pipeline.multimodal.mp3_metadata
    walks the frames BYTE BY BYTE (ISO 11172-3 header layout, ID3 skip)
    to recover bitrate / sample rate / channels / frame count /
    duration.  Every 5th doc is VBR — each frame cycles its own bitrate
    index (d%14+1, (d+1)%14+1, (d+2)%14+1), so the walk must parse EVERY
    frame header (not stride by the first frame's length) and
    avg_bitrate_kbps is the frame-count-weighted mean.  The DuckDB
    oracle replays the parameter arithmetic from the published MPEG
    tables without ever seeing the binary — the header walk must land on
    every frame boundary exactly or counts diverge.  Scale: payload
    build + probe are both narrow Arrow maps, zero shuffle."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    docs = read_table(spark, sf, "documents").select("doc_id") \
        .filter(F.col("doc_id") < 300)

    @pandas_udf(T.BinaryType())
    def make_mp3(doc_id):
        from catabra_pandas_spark.pipeline.codecs import mp3_encode_headers

        def build(d):
            d = int(d)
            return mp3_encode_headers(
                n_frames=d % 40 + 1,
                bitrate_idx=([(d + j) % 14 + 1 for j in range(3)]
                             if d % 5 == 0 else d % 14 + 1),
                sr_idx=d % 3,
                channel_mode=d % 4,
                id3_tag=(b"t" * (d % 50) if d % 3 == 0 else None))
        return doc_id.map(build)

    d = docs.withColumn("payload", make_mp3(F.col("doc_id")))
    out = P.mp3_metadata(d, "payload")
    return out.select(
        "doc_id",
        F.col("mp3_meta.n_frames").cast("long").alias("n_frames"),
        F.col("mp3_meta.bitrate_kbps").cast("long").alias("bitrate_kbps"),
        F.round("mp3_meta.avg_bitrate_kbps", 6).alias("avg_bitrate_kbps"),
        F.col("mp3_meta.sample_rate").cast("long").alias("sample_rate"),
        F.col("mp3_meta.channels").cast("long").alias("channels"),
        F.round("mp3_meta.duration_ms", 6).alias("duration_ms"))


_Q_MULTIMODAL_MP3_SQL = """
    WITH br AS (SELECT [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                        224, 256, 320] AS tab),
    d AS (SELECT doc_id FROM documents WHERE doc_id < 300),
    p AS (SELECT doc_id,
                 doc_id % 40 + 1 AS n_frames,
                 tab[(doc_id % 14 + 1)::INT] AS bitrate_kbps,
                 CASE WHEN doc_id % 5 = 0 THEN
                   -- VBR: frame f cycles index ((doc_id + f%3) % 14 + 1)
                   list_sum(list_transform(range(doc_id % 40 + 1),
                     f -> tab[((doc_id + f % 3) % 14 + 1)::INT]))
                   / (doc_id % 40 + 1)::DOUBLE
                 ELSE tab[(doc_id % 14 + 1)::INT]::DOUBLE END
                     AS avg_bitrate_kbps,
                 ([44100, 48000, 32000])[(doc_id % 3 + 1)::INT]
                     AS sample_rate,
                 CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS channels
          FROM d, br)
    SELECT doc_id, n_frames::BIGINT AS n_frames,
           bitrate_kbps::BIGINT AS bitrate_kbps,
           round(avg_bitrate_kbps, 6) AS avg_bitrate_kbps,
           sample_rate::BIGINT AS sample_rate,
           channels::BIGINT AS channels,
           round(n_frames * 1152.0 * 1000 / sample_rate, 6) AS duration_ms
    FROM p
"""


def q_multimodal_mp4(spark, sf):
    """REAL MP4 container probe, oracle-checked end-to-end: per document
    a genuine ISO BMFF box tree (ftyp + moov{mvhd, trak/tkhd...} with
    16.16 fixed-point dimensions) is built from doc_id-derived
    parameters, then pipeline.multimodal.mp4_metadata walks the boxes
    BYTE BY BYTE (ISO 14496-12 size+fourcc layout) to recover brand /
    timescale / duration / track count / width / height.  The DuckDB
    oracle replays the parameter arithmetic without ever seeing the
    binary.  Scale: build + probe are narrow Arrow maps, zero shuffle."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    docs = read_table(spark, sf, "documents").select("doc_id") \
        .filter(F.col("doc_id") < 300)

    @pandas_udf(T.BinaryType())
    def make_mp4(doc_id):
        from catabra_pandas_spark.pipeline.codecs import mp4_encode_boxes

        def build(d):
            d = int(d)
            return mp4_encode_boxes(
                duration_ms=(d % 3600) * 1000.0 + 500.0,
                timescale=(600, 1000, 90000)[d % 3],
                width=320 + (d % 5) * 320,
                height=180 + (d % 5) * 180,
                n_tracks=d % 3 + 1,
                brand=(b"isom", b"mp42")[d % 2],
                version=d % 4 // 2)  # mvhd v0 for 0,1; v1 for 2,3
        return doc_id.map(build)

    d = docs.withColumn("payload", make_mp4(F.col("doc_id")))
    out = P.mp4_metadata(d, "payload")
    return out.select(
        "doc_id",
        F.col("mp4_meta.major_brand").alias("major_brand"),
        F.col("mp4_meta.timescale").cast("long").alias("timescale"),
        F.col("mp4_meta.duration").alias("duration"),
        F.round("mp4_meta.duration_ms", 6).alias("duration_ms"),
        F.col("mp4_meta.n_tracks").cast("long").alias("n_tracks"),
        F.col("mp4_meta.width").alias("width"),
        F.col("mp4_meta.height").alias("height"))


_Q_MULTIMODAL_MP4_SQL = """
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 300),
    p AS (SELECT doc_id,
                 (doc_id % 3600) * 1000.0 + 500.0 AS req_ms,
                 ([600, 1000, 90000])[(doc_id % 3 + 1)::INT] AS timescale,
                 CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END
                     AS major_brand,
                 doc_id % 3 + 1 AS n_tracks,
                 (320 + (doc_id % 5) * 320)::DOUBLE AS width,
                 (180 + (doc_id % 5) * 180)::DOUBLE AS height
          FROM d),
    q AS (SELECT *, round(req_ms * timescale / 1000.0)::BIGINT AS duration
          FROM p)
    SELECT doc_id, major_brand, timescale::BIGINT AS timescale, duration,
           round(duration * 1000.0 / timescale, 6) AS duration_ms,
           n_tracks::BIGINT AS n_tracks, width, height
    FROM q
"""


def q_multimodal_frames(spark, sf):
    """pipeline.sample_frames: every-Nth-frame index explosion per video
    row (JVM sequence explode — the fan-out step that distributes per-frame
    decode across the cluster).  Metadata is constructed with a
    SQL-replayable n_frames so DuckDB can replay the stride arithmetic."""
    docs = read_table(spark, sf, "documents").select("doc_id", "text")
    d = docs.withColumn("media_meta", F.struct(
        F.lit("video").alias("modality"),
        F.lit("video/mp4").alias("mime"),
        F.lit(0).alias("width"),
        F.lit(0).alias("height"),
        (F.length("text") % 300 + 1).cast("int").alias("n_frames"),
        F.lit(30).alias("sample_rate")))
    out = P.sample_frames(d, every_n=25)
    return out.select(
        "doc_id",
        F.col("media_meta.n_frames").cast("long").alias("n_frames"),
        F.col("frame_index").cast("long").alias("frame_index"))


_Q_MULTIMODAL_FRAMES_SQL = """
    WITH d AS (SELECT doc_id, length(text) % 300 + 1 AS n_frames FROM documents)
    SELECT doc_id, n_frames::BIGINT AS n_frames,
           unnest(range(0, n_frames::BIGINT, 25)) AS frame_index
    FROM d
"""


def q_multimodal_resize(spark, sf):
    """REAL image resize, oracle-checked: the synthesized P5 payloads (see
    q_multimodal_decode) are nearest-neighbor-resized to 4x2 by
    pipeline.resize_image (mapInPandas, byte-level), then decoded; the
    DuckDB oracle replays the index selection ((y*h)//2, (x*w)//4) on the
    generating formula without seeing any bytes — resize + re-decode must
    be byte-exact."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T
    import numpy as np

    docs = read_table(spark, sf, "documents").select("doc_id") \
        .filter((F.col("doc_id") >= 8) & (F.col("doc_id") < 100))

    @pandas_udf(T.BinaryType())
    def make_p5(doc_id):
        def build(d):
            d = int(d)
            w, h = d % 16 + 1, d % 8 + 1
            i = np.arange(w * h, dtype=np.int64)
            raster = ((d * 31 + i * 7) % 256).astype(np.uint8)
            return b"P5\n%d %d\n255\n" % (w, h) + raster.tobytes()
        return doc_id.map(build)

    d = docs.withColumn("payload", make_p5(F.col("doc_id")))
    d = P.attach_binary_metadata(d, "payload", modality="image",
                                 mime="image/x-portable-graymap")
    r = P.resize_image(d, "payload", out_width=4, out_height=2)
    r = r.drop("payload").withColumnRenamed("payload_resized", "payload")
    out = P.decode_binary(r, "payload")
    return out.select(
        "doc_id",
        F.element_at("features", 1).alias("width"),
        F.element_at("features", 2).alias("height"),
        F.round(F.element_at("features", 4), 6).alias("mean_gray"),
        F.round(F.element_at("features", 7), 6).alias("std_gray"))


_Q_MULTIMODAL_RESIZE_SQL = """
    WITH d AS (
      SELECT doc_id, doc_id % 16 + 1 AS w, doc_id % 8 + 1 AS h
      FROM documents WHERE doc_id >= 8 AND doc_id < 100
    ),
    px AS (
      SELECT doc_id, w, h, unnest(range(0, 8)) AS i
      FROM d
    ),
    v AS (
      -- resized pixel i = (y, x) with y = i // 4, x = i % 4; source index
      -- = (y*h)//2 * w + (x*w)//4 (nearest-neighbor index selection)
      SELECT doc_id,
             (doc_id * 31 + (((i // 4) * h) // 2 * w + ((i % 4) * w) // 4) * 7)
               % 256 AS val
      FROM px
    )
    SELECT doc_id, 4.0 AS width, 2.0 AS height,
           round(avg(val), 6) AS mean_gray,
           round(stddev_pop(val), 6) AS std_gray
    FROM v GROUP BY doc_id
"""


def q_multimodal_png(spark, sf):
    """REAL PNG roundtrip, oracle-checked end-to-end: per-document a
    deterministic grayscale raster is zlib-compressed into genuine PNG
    bytes (pipeline/codecs.py png_encode: IHDR/IDAT/IEND + CRCs), the
    mapInPandas PNG decoder (inflate + scanline unfilter) recovers
    width/height/mean/std from the BYTES, and the DuckDB oracle
    recomputes the same statistics from the generating formula without
    ever seeing the binary.  PNG is lossless, so the match is exact."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    docs = read_table(spark, sf, "documents").select("doc_id") \
        .filter(F.col("doc_id") < 150)

    @pandas_udf(T.BinaryType())
    def make_png(doc_id):
        import numpy as np

        from catabra_pandas_spark.pipeline.codecs import png_encode

        def build(d):
            d = int(d)
            w, h = d % 13 + 2, d % 9 + 2
            i = np.arange(w * h, dtype=np.int64)
            px = ((d * 37 + i * 11) % 256).astype(np.uint8).reshape(h, w)
            return png_encode(px)
        return doc_id.map(build)

    d = docs.withColumn("payload", make_png(F.col("doc_id")))
    d = P.attach_binary_metadata(d, "payload", modality="image",
                                 mime="image/png")
    out = P.decode_binary(d, "payload")
    return out.select(
        "doc_id",
        F.element_at("features", 1).alias("width"),
        F.element_at("features", 2).alias("height"),
        F.element_at("features", 3).alias("channels"),
        F.round(F.element_at("features", 4), 6).alias("mean_gray"),
        F.round(F.element_at("features", 7), 6).alias("std_gray"))


_Q_MULTIMODAL_PNG_SQL = """
    WITH d AS (
      SELECT doc_id, doc_id % 13 + 2 AS w, doc_id % 9 + 2 AS h
      FROM documents WHERE doc_id < 150
    ),
    px AS (
      SELECT doc_id, w, h, (doc_id * 37 + unnest(range(0, w * h)) * 11) % 256 AS v
      FROM d
    )
    SELECT doc_id, w::DOUBLE AS width, h::DOUBLE AS height, 1.0 AS channels,
           round(avg(v), 6) AS mean_gray,
           round(stddev_pop(v), 6) AS std_gray
    FROM px GROUP BY doc_id, w, h
"""


def q_multimodal_jpeg(spark, sf):
    """REAL baseline JPEG roundtrip, certificate-style oracle: a smooth
    linear-ramp raster per document is Huffman/DCT-encoded into genuine
    JFIF bytes (pipeline/codecs.py jpeg_encode_gray, standard Annex K
    tables at q=90), the mapInPandas JPEG decoder (segment parse +
    Huffman + dequant + IDCT) recovers the image from the BYTES.
    Dimensions must match exactly; because JPEG is lossy, mean/std are
    verified as within-tolerance BOOLEANS against the generating
    formula (the sketch-certificate pattern of q_hll_distinct) — still a
    hard end-to-end check: a wrong quant table, zigzag order or IDCT
    shifts the mean by far more than the 1.0 tolerance."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    docs = read_table(spark, sf, "documents").select("doc_id") \
        .filter(F.col("doc_id") < 150)

    @pandas_udf(T.BinaryType())
    def make_jpeg(doc_id):
        import numpy as np

        from catabra_pandas_spark.pipeline.codecs import jpeg_encode_gray

        def build(d):
            d = int(d)
            w, h = d % 24 + 8, d % 16 + 8
            y, x = np.mgrid[0:h, 0:w]
            px = (d % 64 + y + 2 * x).astype(np.uint8)  # smooth, no wrap
            return jpeg_encode_gray(px, quality=90)
        return doc_id.map(build)

    d = docs.withColumn("payload", make_jpeg(F.col("doc_id")))
    d = P.attach_binary_metadata(d, "payload", modality="image",
                                 mime="image/jpeg")
    out = P.decode_binary(d, "payload")
    ref_mean = (F.col("doc_id") % 64 + (F.col("doc_id") % 16 + 7) / 2.0
                + (F.col("doc_id") % 24 + 7))
    return out.select(
        "doc_id",
        F.element_at("features", 1).alias("width"),
        F.element_at("features", 2).alias("height"),
        (F.abs(F.element_at("features", 4) - ref_mean) < 1.0).alias("mean_ok"),
        (F.element_at("features", 7) > 0.0).alias("std_positive"))


_Q_MULTIMODAL_JPEG_SQL = """
    SELECT doc_id,
           (doc_id % 24 + 8)::DOUBLE AS width,
           (doc_id % 16 + 8)::DOUBLE AS height,
           TRUE AS mean_ok,
           TRUE AS std_positive
    FROM documents WHERE doc_id < 150
"""


def q_resample_eav_sliding(spark, sf):
    """SLIDING regular windows (2-week duration, 1-week stride) via the
    explicit-grid fast path regular=(0, 2wk, 1wk): candidate windows are
    enumerated arithmetically, the endpoint predicate runs as a residual
    filter — no interval theta-join (operators/resampling.py)."""
    ev = _ev(spark, sf).select(F.col("uid").alias("entity"), "t",
                               F.col("etype").alias("attribute"),
                               F.col("val").alias("value"))
    win = (_ev(spark, sf)
           .select(F.col("uid").alias("entity"),
                   (F.floor(F.col("t") / WK_US) * WK_US).alias("base"))
           .distinct()
           .select("entity",
                   F.explode(F.array(F.col("base") - WK_US, F.col("base")))
                   .alias("t_start"))
           .distinct()
           .withColumn("t_stop", F.col("t_start") + 2 * WK_US))
    out = cps.resample_eav(
        ev, win, {"click": ["count", "sum"]},
        entity_col="entity", time_col="t", include_stop=False,
        assume_unique_windows=True, regular=(0, 2 * WK_US, WK_US))
    return out.select("entity", "t_start", "t_stop", "click_count",
                      F.round("click_sum", 6).alias("click_sum"))


_Q_RESAMPLE_SLIDING_SQL = f"""
    WITH e AS ({_EV_SQL}),
    base AS (SELECT DISTINCT uid AS entity,
                    (t // 604800000000) * 604800000000 AS b
             FROM e),
    w AS (SELECT DISTINCT entity, s AS t_start, s + 2 * 604800000000 AS t_stop
          FROM (SELECT entity, unnest([b - 604800000000, b]) AS s FROM base)),
    j AS (SELECT w.entity, w.t_start, w.t_stop, e.val
          FROM w LEFT JOIN (SELECT * FROM e WHERE etype = 'click') e
            ON e.uid = w.entity AND e.t >= w.t_start AND e.t < w.t_stop)
    SELECT entity, t_start, t_stop,
           count(val) AS click_count,
           round(sum(val), 6) AS click_sum
    FROM j GROUP BY entity, t_start, t_stop
"""


def q_resample_eav_custom(spark, sf):
    """Custom Python aggregation via applyInPandas (resampling.py:128-161)."""
    ev = _ev(spark, sf).select(F.col("uid").alias("entity"), "t",
                               F.col("etype").alias("attribute"),
                               F.col("val").alias("value"))
    win = _weekly_windows(spark, sf)

    def value_range(s):
        s = s.dropna()
        return float(s.max() - s.min()) if len(s) else None

    out = cps.resample_eav(ev, win, {"view": [value_range]},
                           entity_col="entity", time_col="t", include_stop=False,
                           assume_unique_windows=True, regular=(0, WK_US))
    return out.select("entity", "t_start", "t_stop",
                      F.round("view_value_range", 6).alias("view_value_range"))


_Q_RESAMPLE_CUSTOM_SQL = f"""
    WITH e AS ({_EV_SQL}), w AS ({_WEEKLY_SQL})
    SELECT w.entity, w.t_start, w.t_stop,
           round(max(e.val) - min(e.val), 6) AS view_value_range
    FROM w LEFT JOIN (SELECT * FROM e WHERE etype = 'view') e
      ON e.uid = w.entity AND e.t >= w.t_start AND e.t < w.t_stop
    GROUP BY w.entity, w.t_start, w.t_stop
"""


def q_resample_eav_custom_multi(spark, sf):
    """Multi-output custom aggregation: ONE callable returning a dict of
    named outputs -> N columns from one applyInPandas (reference
    resampling.py:128-161 allows callables to emit arbitrary named
    columns; covariance/regression-style aggs need this)."""
    ev = _ev(spark, sf).select(F.col("uid").alias("entity"), "t",
                               F.col("etype").alias("attribute"),
                               F.col("val").alias("value"))
    win = _weekly_windows(spark, sf)

    def span_stats(s):
        s = s.dropna()
        if not len(s):
            return {"lo": None, "hi": None, "spread": None}
        return {"lo": float(s.min()), "hi": float(s.max()),
                "spread": float(s.max() - s.min())}

    out = cps.resample_eav(ev, win, {"view": [span_stats]},
                           entity_col="entity", time_col="t", include_stop=False,
                           assume_unique_windows=True, regular=(0, WK_US))
    return out.select("entity", "t_start", "t_stop",
                      F.round("view_lo", 6).alias("view_lo"),
                      F.round("view_hi", 6).alias("view_hi"),
                      F.round("view_spread", 6).alias("view_spread"))


_Q_RESAMPLE_CUSTOM_MULTI_SQL = f"""
    WITH e AS ({_EV_SQL}), w AS ({_WEEKLY_SQL})
    SELECT w.entity, w.t_start, w.t_stop,
           round(min(e.val), 6) AS view_lo,
           round(max(e.val), 6) AS view_hi,
           round(max(e.val) - min(e.val), 6) AS view_spread
    FROM w LEFT JOIN (SELECT * FROM e WHERE etype = 'view') e
      ON e.uid = w.entity AND e.t >= w.t_start AND e.t < w.t_stop
    GROUP BY w.entity, w.t_start, w.t_stop
"""


def q_resample_eav_custom_slope(spark, sf):
    """TIME-DEPENDENT custom aggregation: a two-argument callable
    fn(times, values) receives the window's observation times too
    (reference resampling.py docs Example 2 fits a regression per
    window), here the least-squares slope of value vs time-in-days.
    Oracle: DuckDB's native regr_slope."""
    ev = _ev(spark, sf).select(F.col("uid").alias("entity"), "t",
                               F.col("etype").alias("attribute"),
                               F.col("val").alias("value"))
    win = _weekly_windows(spark, sf)

    def slope(times, values):
        import numpy as np
        m = values.notna() & times.notna()
        # slope is shift-invariant in x: anchor at the window's first
        # observation so x spans [0, 7) days instead of ~20k days since
        # epoch — kills the catastrophic cancellation in cov/var and
        # makes round-6 stable against summation-order differences
        t = times[m].to_numpy(dtype=float)
        y = values[m].to_numpy(dtype=float)
        if len(t) < 2:
            return None
        x = (t - t.min()) / 86400e6
        vx = ((x - x.mean()) ** 2).mean()
        if vx == 0:
            return None
        cov = ((x - x.mean()) * (y - y.mean())).mean()
        return float(cov / vx)

    out = cps.resample_eav(ev, win, {"view": [slope]},
                           entity_col="entity", time_col="t", include_stop=False,
                           assume_unique_windows=True, regular=(0, WK_US))
    # `+ 0.0` normalizes IEEE signed zero: DuckDB round() follows C
    # semantics and yields -0.0 for small negative slopes; Spark's
    # F.round never does — value-equal but representation-unequal, so
    # the driver's hash would red without the normalization (r6 fail)
    return out.select("entity", "t_start", "t_stop",
                      (F.round("view_slope", 6) + F.lit(0.0)).alias("view_slope"))


_Q_RESAMPLE_CUSTOM_SLOPE_SQL = f"""
    WITH e AS ({_EV_SQL}), w AS ({_WEEKLY_SQL}),
    j AS (
      SELECT w.entity, w.t_start, w.t_stop, e.val, e.t
      FROM w LEFT JOIN (SELECT * FROM e WHERE etype = 'view') e
        ON e.uid = w.entity AND e.t >= w.t_start AND e.t < w.t_stop
    ),
    -- anchor x at the window's first observation (slope is shift-
    -- invariant; relative days avoid micros-since-epoch cancellation)
    j2 AS (
      SELECT entity, t_start, t_stop, val,
             (t - min(t) OVER (PARTITION BY entity, t_start, t_stop))
               / 86400000000.0 AS xd
      FROM j
    )
    -- `+ 0.0` drops IEEE -0.0 (DuckDB round() keeps the sign, Spark not)
    SELECT entity, t_start, t_stop,
           round(regr_slope(val, xd), 6) + 0.0 AS view_slope
    FROM j2 GROUP BY entity, t_start, t_stop
"""


# --------------------------------------------------------------------------
# driver API
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the SURVEY §7 stage-2 minimum slice — keyed interval
    overlap join of lineitem ship intervals with order windows."""
    return q_merge_overlap(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# sketch tier: certificates + bloom pruning (pipeline/sketches.py)
# --------------------------------------------------------------------------

def q_hll_distinct(spark, sf):
    """HyperLogLog++ distinct-count certificate: exact per-language doc
    count plus a bool that the HLL estimate (rsd=0.05) landed within 6
    relative standard deviations — deterministic output, sketch quality
    surfaced.  Scale story: the HLL exchange carries O(groups) fixed-size
    sketches where exact countDistinct shuffles every distinct value."""
    docs = read_table(spark, sf, "documents")
    return SK.distinct_certificate(docs, "lang", "doc_id", rsd=0.05)


_Q_HLL_DISTINCT_SQL = """
    SELECT lang, count(DISTINCT doc_id) AS exact_nd, TRUE AS within_bound
    FROM documents GROUP BY lang
"""


def q_heavy_hitters(spark, sf):
    """EXACT frequent tokens (share >= 1%) via the sketch-pruned two-pass
    plan: per-partition candidates (pigeonhole guarantee: no global heavy
    hitter can hide), then an exact recount of the candidate set only —
    the exchange never carries the long-tail vocabulary."""
    docs = read_table(spark, sf, "documents")
    toks = docs.select(F.explode(F.split(F.lower("text"), " ")).alias("tok")) \
               .filter(F.col("tok") != "")
    return SK.heavy_hitters(toks, "tok", min_share=0.01)


_Q_HEAVY_HITTERS_SQL = """
    WITH toks AS (
      SELECT t.tok FROM documents,
             unnest(string_split(lower(text), ' ')) AS t(tok)
      WHERE t.tok != ''
    ),
    total AS (SELECT count(*) AS n FROM toks)
    SELECT tok, count(*) AS cnt
    FROM toks, total
    GROUP BY tok, total.n
    HAVING count(*) >= ceil(0.01 * total.n)
"""


def q_quantile_sketch(spark, sf):
    """Greenwald-Khanna quantile-sketch certificate: exact per-flag price
    quartiles plus a bool that percentile_approx(accuracy=1000) respects
    its rank-error contract (estimate within the exact q+-eps value
    envelope).  The sketch is the 100 TB path (fixed size, combinable);
    the exact side keeps the output deterministic."""
    li = read_table(spark, sf, "lineitem")
    out = SK.quantile_certificate(li, "l_returnflag", "l_extendedprice",
                                  [0.25, 0.5, 0.75], accuracy=1000)
    return out.select("l_returnflag",
                      F.round("q_25", 6).alias("q_25"),
                      F.round("q_50", 6).alias("q_50"),
                      F.round("q_75", 6).alias("q_75"),
                      "within_bound")


_Q_QUANTILE_SKETCH_SQL = """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS q_25,
           round(quantile_cont(l_extendedprice, 0.50), 6) AS q_50,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS q_75,
           TRUE AS within_bound
    FROM lineitem GROUP BY l_returnflag
"""


def q_bloom_prejoin(spark, sf):
    """Bloom-filter join pruning: a 2^20-bit filter over the (selective)
    order subset's keys is embedded as one array literal in the lineitem
    scan predicate, so non-matching rows die IN THE SCAN before the join
    exchange; the real semi-join then makes the result exact (Bloom has
    no false negatives).  Output = plain semi-join, bit-for-bit."""
    li = read_table(spark, sf, "lineitem")
    orders = read_table(spark, sf, "orders").filter(F.col("o_orderkey") % 97 == 0)
    out = SK.bloom_prejoin(li.select("l_orderkey", "l_linenumber", "l_quantity"),
                           orders, "l_orderkey", "o_orderkey")
    return out.select("l_orderkey", "l_linenumber", "l_quantity")


_Q_BLOOM_PREJOIN_SQL = """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0)
"""


# --------------------------------------------------------------------------
# packing tier (pipeline/packing.py; reference partition_series analogue)
# --------------------------------------------------------------------------

def q_pack_sequences(spark, sf):
    """Concat-and-split sequence packing (LLM trainer default): documents
    laid end-to-end per language in doc_id order, tape cut every 256
    tokens.  Pure window cumulative sum — one shuffle on (lang, doc_id)."""
    docs = read_table(spark, sf, "documents")
    tc = P.token_count(docs).select("doc_id", "lang", "n_tokens")
    out = P.pack_sequences(tc, "n_tokens", 256, "doc_id", group_by="lang")
    return out.select("doc_id", "lang", "n_tokens", "bin_id", "bin_offset")


_Q_PACK_SEQUENCES_SQL = f"""
    WITH tc AS (SELECT doc_id, lang, len({_TOKS})::BIGINT AS n_tokens
                FROM documents),
    st AS (
      SELECT doc_id, lang, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
      FROM tc)
    SELECT doc_id, lang, n_tokens,
           (s // 256)::BIGINT AS bin_id, (s % 256)::BIGINT AS bin_offset
    FROM st
"""


def q_pack_bins(spark, sf):
    """Whole-item greedy bin packing (reference partition_series
    misc.py:644-696, shuffle=False), next-fit mode so the DuckDB oracle
    can replay the sequential sweep as a linear recursive CTE; groups
    (languages) pack independently in parallel via applyInPandas."""
    docs = read_table(spark, sf, "documents")
    tc = P.token_count(docs).select("doc_id", "lang", "n_tokens")
    out = P.pack_bins(tc, "n_tokens", 256, "doc_id", group_by="lang",
                      mode="next_fit")
    return out.select("doc_id", "lang", "n_tokens", "bin_id")


_Q_PACK_BINS_SQL = f"""
    WITH RECURSIVE tc AS (
      SELECT doc_id, lang, len({_TOKS})::BIGINT AS n FROM documents),
    ord AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY doc_id)
                      AS rn FROM tc),
    rec AS (
      SELECT lang, rn, doc_id, n, 0::BIGINT AS bin_id, n::BIGINT AS load
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.lang, o.rn, o.doc_id, o.n,
             CASE WHEN o.n < 256 AND r.load + o.n <= 256
                  THEN r.bin_id ELSE r.bin_id + 1 END,
             CASE WHEN o.n < 256 AND r.load + o.n <= 256
                  THEN r.load + o.n ELSE o.n END
      FROM rec r JOIN ord o ON o.lang = r.lang AND o.rn = r.rn + 1
    )
    SELECT doc_id, lang, n AS n_tokens, bin_id FROM rec
"""


def q_chunk_documents(spark, sf):
    """Token-window document chunking (64-token chunks, 16 overlap) —
    map-only slice-explode, zero shuffles; the RAG/embedding-pipeline
    pre-tokenizer."""
    docs = read_table(spark, sf, "documents")
    out = P.chunk_documents(docs, max_tokens=64, overlap=16)
    return out.select("doc_id", "chunk_idx", "n_chunk_tokens",
                      F.md5("chunk_text").alias("chunk_md5"))


_Q_CHUNK_DOCUMENTS_SQL = r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x != '') AS t
      FROM documents),
    nch AS (
      SELECT doc_id, t, len(t) AS n,
             CASE WHEN len(t) <= 0 THEN 0
                  ELSE 1 + ceil(greatest(len(t) - 64, 0) / 48.0)::INT END
               AS n_chunks
      FROM toks),
    idx AS (
      SELECT doc_id, t, i.i AS chunk_idx
      FROM nch, unnest(CASE WHEN n_chunks > 0
                            THEN range(0, n_chunks) ELSE [] END) AS i(i)),
    ch AS (
      SELECT doc_id, chunk_idx,
             t[chunk_idx * 48 + 1 : chunk_idx * 48 + 64] AS chunk
      FROM idx)
    SELECT doc_id, chunk_idx, len(chunk)::BIGINT AS n_chunk_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_md5
    FROM ch
"""


# --------------------------------------------------------------------------
# layout tier (sources/layout.py)
# --------------------------------------------------------------------------

def q_zorder(spark, sf):
    """Morton (Z-order) codes over (l_partkey, l_suppkey) — the clustering
    key behind multi-column min-max pruning (sources/layout.py,
    zorder_layout): integer rescale to a 16-bit grid from one min/max
    aggregate, then pure codegen bit interleaving.  Deterministic, so the
    DuckDB twin replays scale + interleave bit-for-bit."""
    from catabra_pandas_spark.sources.layout import zorder_scale, zorder_value
    li = read_table(spark, sf, "lineitem")
    row = li.agg(F.min("l_partkey"), F.max("l_partkey"),
                 F.min("l_suppkey"), F.max("l_suppkey")).collect()[0]
    sp = zorder_scale(F.col("l_partkey"), row[0], row[1], bits=16)
    ss = zorder_scale(F.col("l_suppkey"), row[2], row[3], bits=16)
    return li.select("l_orderkey", "l_linenumber",
                     zorder_value([sp, ss], bits=16).alias("zval"))


_Q_ZORDER_SQL = """
    WITH b AS (SELECT min(l_partkey) pmin, max(l_partkey) pmax,
                      min(l_suppkey) smin, max(l_suppkey) smax
               FROM lineitem),
    sc AS (SELECT l_orderkey, l_linenumber,
                  CAST(floor((l_partkey - pmin) * 65536.0 / (pmax - pmin + 1))
                       AS BIGINT) AS sp,
                  CAST(floor((l_suppkey - smin) * 65536.0 / (smax - smin + 1))
                       AS BIGINT) AS ss
           FROM lineitem, b)
    SELECT l_orderkey, l_linenumber,
           ((((sp >> 0) & 1) << 0) | (((ss >> 0) & 1) << 1) | (((sp >> 1) & 1) << 2) | (((ss >> 1) & 1) << 3) | (((sp >> 2) & 1) << 4) | (((ss >> 2) & 1) << 5) | (((sp >> 3) & 1) << 6) | (((ss >> 3) & 1) << 7) | (((sp >> 4) & 1) << 8) | (((ss >> 4) & 1) << 9) | (((sp >> 5) & 1) << 10) | (((ss >> 5) & 1) << 11) | (((sp >> 6) & 1) << 12) | (((ss >> 6) & 1) << 13) | (((sp >> 7) & 1) << 14) | (((ss >> 7) & 1) << 15) | (((sp >> 8) & 1) << 16) | (((ss >> 8) & 1) << 17) | (((sp >> 9) & 1) << 18) | (((ss >> 9) & 1) << 19) | (((sp >> 10) & 1) << 20) | (((ss >> 10) & 1) << 21) | (((sp >> 11) & 1) << 22) | (((ss >> 11) & 1) << 23) | (((sp >> 12) & 1) << 24) | (((ss >> 12) & 1) << 25) | (((sp >> 13) & 1) << 26) | (((ss >> 13) & 1) << 27) | (((sp >> 14) & 1) << 28) | (((ss >> 14) & 1) << 29) | (((sp >> 15) & 1) << 30) | (((ss >> 15) & 1) << 31))::BIGINT AS zval
    FROM sc
"""


def q_mix_corpora(spark, sf):
    """Training-data mixture composition: per-language corpora drawn at
    target weights (en .5 / de .2 / fr .15 / es .1 / zh .05 of 200 docs)
    by the deterministic md5-order rule — one window over the tagged
    union, a single shuffle on the source tag regardless of corpus
    count."""
    docs = read_table(spark, sf, "documents").select("doc_id", "lang", "text")
    corpora = {lang: docs.filter(F.col("lang") == lang)
               for lang in ("en", "de", "fr", "es", "zh")}
    weights = {"en": 0.5, "de": 0.2, "fr": 0.15, "es": 0.1, "zh": 0.05}
    out = P.mix_corpora(corpora, weights, n_total=200, on="doc_id", seed=7)
    return out.select("doc_id", "source")


_Q_MIX_CORPORA_SQL = """
    SELECT doc_id, lang AS source FROM (
      SELECT doc_id, lang, row_number() OVER (
        PARTITION BY lang
        ORDER BY md5(concat_ws('|', '7', doc_id::VARCHAR, lang))) AS rn
      FROM documents)
    WHERE rn <= CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 40
                          WHEN 'fr' THEN 30 WHEN 'es' THEN 20
                          WHEN 'zh' THEN 10 END
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE on ordering: the driver verifies the FIRST 50 entries in dict
    # order each round.  Rotation rule (ENFORCED mechanically by
    # scripts/rotation_check.py, run from finalize_round.py): any query
    # whose underlying module — or whose query-builder/oracle source —
    # changed since its last green driver row must sit inside the window.
    # r13 window, exactly as the r12 VERDICT budgeted (31 + 13 + extras
    # = 50): (a) the 31-query merge/find_containing/resample closure
    # flagged by the merging.py auto-detector plan_stats integration
    # (VERDICT r11 #6 / r12 #1 — optimizer row counts consulted before
    # the two measured stats jobs, which now run concurrently when still
    # needed); the oracles are unchanged, so re-greening certifies the
    # detector change preserved every pick's RESULTS; (b) semantic_dedup
    # (similarity.py _reassign loud-fail init) and line_dedup
    # (dedup.py literal-separator quoting + the min_line_chars=1 blank-
    # line exemption default, oracle updated to match) — the two r12
    # ADVICE behavioral fixes; (c) dsir + lm_perplexity, flagged by the
    # text.py vectorized bigram scoring (VERDICT r12 #5 — Series-map
    # lookups + numpy log replacing the per-token Python loop; same
    # summation order, bit-identical values); (d) NEW dsir_resample —
    # the chained dsir_logratio -> exp -> weighted_sample recipe (Xie
    # 2023 §3, VERDICT r12 #4) with a full two-stage DuckDB replay;
    # (e) the 13 r10-row queries hitting the repo's 3-round age limit
    # (VERDICT r12 #2); (f) the NEW ccnet_buckets row fills the last
    # slot — the chained CCNet perplexity head/middle/tail split over
    # the new quantile_buckets operator, its oracle pre-validated
    # verbatim in tests/test_pipeline.py and re-verified at sf0.01
    # before registration.  The 64-query tail holds only r11/r12-green
    # queries whose exercised code is unchanged (rotation_check proves
    # it at AST-symbol level).
    #
    # r13 OPTIMIZATION-round amendment: heavy_hitters (single-count-pass
    # candidate mapper) and quantile_sketch (cost-based exact strategy)
    # changed this round, so they swap INTO the window for sample_split
    # and zorder — two r10-green map-only rows whose exercised code is
    # byte-unchanged (rotation_check-verified).  The optimization driver
    # re-verifies EVERY declared query this round, so the displaced rows
    # re-green regardless of window position; both swapped-in oracles
    # were re-proven at sf0.001+sf0.01 before the swap.
    #
    # r14 OPTIMIZATION-round amendment (VERDICT r13 item 1, the one red):
    # funnel and stream_funnel swap INTO the window — the events.py
    # size-gated materialization (c8fe4ac) landed after the r13 window
    # swap, so the driver has no green row for the new funnel code.  They
    # displace prev_next and pack_bins, two r13-green rows whose
    # exercised code is byte-unchanged (rotation_check-verified).
    # Later r14 amendments (each committed only after rotation_check
    # reported 0 violations on the full tree): dedup_clusters swaps in
    # for json_props — the near_dup_dedup paired-nodes-only change flags
    # it.  ivf_ann turned out NOT to flag (its builder passes explicit
    # centroids, so its closure never reaches kmeans_codebook), so
    # mix_corpora keeps its slot.  The ngram_jaccard_pairs skew-safe
    # hot-shingle cap then flags its whole consumer set: ngram_jaccard,
    # minhash_lsh, cross_dedup and simhash swap in for merge_keep_both,
    # merge_indexers, make_windows and topk (all four byte-unchanged
    # since their r13 green rows).
    #
    # r14 window plan inherited from r13 (kept for the record; this
    # round is an optimization round, so NEW rows were out of scope):
    # (a) the 18 r11 rows that hit the 3-round limit at
    # r14 — combine_attrs/gaps/k3/union, cube, rollup, decontam,
    # dedup_exact, fingerprint, langid, ngram_jaccard, quality_gate,
    # repetition, scrub_pii, sessionize, stream_ffill, stream_resample,
    # text_stats; (b) SEVEN new rows whose oracles are already
    # pre-validated verbatim in tests/test_pipeline.py:
    # quality_classifier (test_quality_classifier_duckdb_oracle +
    # _quality_classifier_sql generator), mix_temperature
    # (_MIX_TEMPERATURE_SQL), and the five retrieval/sharding rows
    # (_TFIDF_SQL, _BM25_SQL or its batch twin _BM25_MANY_SQL,
    # _HASHED_TF_SQL, _ASSIGN_SHARDS_SQL, and _DOC_FREQ_CTES for a
    # doc_frequencies row if registered directly — each validated at
    # sf0.001 by its test and certified at 1M docs by the scale_smoke
    # `retrieval` tier), plus the two text-cleaning rows
    # (_STRIP_HTML_SQL, _NORMALIZE_TEXT_SQL — likewise pre-validated);
    # (c) ~23 spare slots — fill with the OLDEST r12 rows to flatten
    # r15's otherwise-47-row bulge.
    #
    # Interval-join consolidation amendment (resample_eav/resample_interval
    # now join irregular windows through merge_intervals, whose bucket
    # join gained the non-finite split): the change reaches make_windows,
    # merge_indexers and merge_keep_both, so they swap INTO the window for
    # ngram_jaccard, sample_stratified and pack_sequences, whose exercised
    # code is unchanged since their green rows (rotation_check-verified).
    #
    # Resampling-on-one-path amendment (one regular-grid leg, exact
    # bucket coercion, interval_total_seconds/_micros sharing one decimal
    # sum): the util edit reaches merge_asof, merge_asof_timedelta and
    # stream_asof, so they swap INTO the window for kmeans_ann, q8_ann
    # and mix_corpora, whose exercised code is unchanged since their
    # green rows (rotation_check-verified).
    #
    # One-sweep-contract amendment (keyless sweeps and keyless
    # combine_intervals share one window path and chunk on the axis'
    # order view): the _coverage_bands edit reaches combine_union,
    # combine_k3, combine_gaps and combine_attrs, so they swap INTO the
    # window for semantic_dedup, line_dedup, substring_dedup and
    # substring_removal, whose exercised code is unchanged since their
    # green rows (rotation_check-verified; 49 of the 50 slots now hold
    # changed queries).
    return {
        "merge_overlap": q_merge_overlap,
        "merge_open_endpoints": q_merge_open_endpoints,
        "merge_left_keep_first": q_merge_left_keep_first,
        "merge_keep_both": q_merge_keep_both,
        "minhash_lsh": q_minhash_lsh,
        "merge_cat_intervals": q_merge_cat_intervals,
        "merge_str_intervals": q_merge_str_intervals,
        "merge_str_bucket": q_merge_str_bucket,
        "merge_date_intervals": q_merge_date_intervals,
        "merge_date_bucket": q_merge_date_bucket,
        "merge_timedelta_intervals": q_merge_timedelta_intervals,
        "merge_timedelta_bucket": q_merge_timedelta_bucket,
        "merge_overlap_sweep": q_merge_overlap_sweep,
        "merge_auto_sweep": q_merge_auto_sweep,
        "bucket_range_join": q_bucket_range_join,
        "find_containing": q_find_containing,
        "find_containing_sweep": q_find_containing_sweep,
        "resample_eav_basic": q_resample_eav_basic,
        "resample_eav_irregular": q_resample_eav_irregular,
        "resample_eav_bucket": q_resample_eav_bucket,
        "resample_eav_quantiles": q_resample_eav_quantiles,
        "resample_eav_moments": q_resample_eav_moments,
        "resample_eav_ranks": q_resample_eav_ranks,
        "resample_eav_mode": q_resample_eav_mode,
        "resample_eav_sliding": q_resample_eav_sliding,
        "resample_eav_custom": q_resample_eav_custom,
        "resample_eav_custom_multi": q_resample_eav_custom_multi,
        "resample_eav_custom_slope": q_resample_eav_custom_slope,
        "resample_interval": q_resample_interval,
        "resample_interval_sweep": q_resample_interval_sweep,
        "cross_dedup": q_cross_dedup,
        "combine_union": q_combine_union,
        "combine_k3": q_combine_k3,
        "dsir": q_dsir,
        "dsir_resample": q_dsir_resample,
        "lm_perplexity": q_lm_perplexity,
        "funnel": q_funnel,
        "stream_funnel": q_stream_funnel,
        "simhash": q_simhash,
        "combine_gaps": q_combine_gaps,
        "combine_attrs": q_combine_attrs,
        "merge_asof": q_merge_asof,
        "merge_asof_timedelta": q_merge_asof_timedelta,
        "merge_indexers": q_merge_indexers,
        "heavy_hitters": q_heavy_hitters,
        "stream_asof": q_stream_asof,
        "make_windows": q_make_windows,
        "quantile_sketch": q_quantile_sketch,
        "dedup_clusters": q_dedup_clusters,
        "ccnet_buckets": q_ccnet_buckets,
        # ---- driver window ends here (50) ----
        "dedup_exact": q_dedup_exact,
        "semantic_decontaminate": q_semantic_decontaminate,
        "weighted_sample": q_weighted_sample,
        "stream_dedup": q_stream_dedup,
        "prev_next": q_prev_next,
        "pack_bins": q_pack_bins,
        "stream_resample_interval": q_stream_resample_interval,
        "group_intervals_ts": q_group_intervals_ts,
        "group_intervals_keyless": q_group_intervals_keyless,
        "multimodal_mp4": q_multimodal_mp4,
        "multimodal_frames": q_multimodal_frames,
        "multimodal_audio": q_multimodal_audio,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_jpeg": q_multimodal_jpeg,
        "multimodal_mp3": q_multimodal_mp3,
        "multimodal_png": q_multimodal_png,
        "multimodal_resize": q_multimodal_resize,
        "multimodal_wav": q_multimodal_wav,
        "pack_sequences": q_pack_sequences,
        "sample_stratified": q_sample_stratified,
        "topk": q_topk,
        "retention": q_retention,
        "embedding_q8": q_embedding_q8,
        "sample_split": q_sample_split,
        "hll_distinct": q_hll_distinct,
        "ivf_ann": q_ivf_ann,
        "lsh_ann": q_lsh_ann,
        "zorder": q_zorder,
        "mix_corpora": q_mix_corpora,
        "kmeans_ann": q_kmeans_ann,
        "q8_ann": q_q8_ann,
        "bloom_prejoin": q_bloom_prejoin,
        "bpe_tokens": q_bpe_tokens,
        "bpe_train": q_bpe_train,
        "chunk_documents": q_chunk_documents,
        "cosine_topk": q_cosine_topk,
        "cosine_topk_blocked": q_cosine_topk_blocked,
        "json_props": q_json_props,
        "embedding_neardup_exact": q_embedding_neardup_exact,
        "factorize": q_factorize,
        "group_intervals": q_group_intervals,
        "grouped_mode": q_grouped_mode,
        "impute_afill": q_impute_afill,
        "impute_bfill": q_impute_bfill,
        "impute_ffill": q_impute_ffill,
        "impute_lfill": q_impute_lfill,
        "impute_linear": q_impute_linear,
        "inner_or_cross": q_inner_or_cross,
        "semantic_dedup": q_semantic_dedup,
        "line_dedup": q_line_dedup,
        "substring_dedup": q_substring_dedup,
        "substring_removal": q_substring_removal,
        "cube": q_cube,
        "rollup": q_rollup,
        "decontam": q_decontam,
        "text_stats": q_text_stats,
        "quality_gate": q_quality_gate,
        "fingerprint": q_fingerprint,
        "scrub_pii": q_scrub_pii,
        "repetition": q_repetition,
        "langid": q_langid,
        "ngram_jaccard": q_ngram_jaccard,
        "sessionize": q_sessionize,
        "stream_resample": q_stream_resample,
        "stream_ffill": q_stream_ffill,
    }


def oracle_sql() -> dict[str, str]:
    return {
        # SemDeDup over planted exact duplicates: assignment + pairwise
        # edges + recursive-CTE components + keeper struct-min, all
        # integer/boolean outputs (pre-validated verbatim in
        # tests/test_pipeline.py::test_semantic_dedup_duckdb_oracle)
        "semantic_dedup": _Q_SEMANTIC_DEDUP_SQL,
        # corpus x benchmark max/argmax cosine; discrete columns only
        # (::test_semantic_decontaminate_duckdb_oracle)
        "semantic_decontaminate": _Q_SEMANTIC_DECONTAM_SQL,
        # A-Res weighted sampling: full md5-key + ln(u)/w + order replay
        "weighted_sample": _Q_WEIGHTED_SAMPLE_SQL,
        # DSIR: both capped bigram LMs replayed, clamped logprob diff
        "dsir": _Q_DSIR_SQL,
        # the chained published recipe: DSIR log-weights -> exp ->
        # A-Res draw, both stages replayed in one SQL program
        "dsir_resample": _Q_DSIR_RESAMPLE_SQL,
        # CCNet head/middle/tail: LM perplexity + exact rank-quantile
        # thresholds per language, replayed end-to-end
        "ccnet_buckets": _Q_CCNET_BUCKETS_SQL,
        # C4 line dedup: oracle counts exact strings vs Spark's xxhash64
        # (collision canary)
        "line_dedup": _Q_LINE_DEDUP_SQL,
        "merge_overlap": _Q_MERGE_OVERLAP_SQL,
        "merge_overlap_sweep": _Q_MERGE_OVERLAP_SQL,
        # auto = cost-based pick over the same semantics; the plain join
        # SQL certifies the flipped (sweep) plan's results
        "merge_auto_sweep": _Q_MERGE_AUTO_SWEEP_SQL,
        "merge_open_endpoints": _Q_MERGE_OPEN_SQL,
        "merge_left_keep_first": _Q_MERGE_LEFT_FIRST_SQL,
        "merge_keep_both": _Q_MERGE_KEEP_BOTH_SQL,
        "merge_indexers": _Q_MERGE_INDEXERS_SQL,
        "merge_str_intervals": _Q_MERGE_STR_SQL,
        "merge_str_bucket": _Q_MERGE_STR_BUCKET_SQL,
        "merge_cat_intervals": _Q_MERGE_CAT_SQL,
        "merge_asof": _Q_MERGE_ASOF_SQL,
        # interval-key as-of: DuckDB replays on the numeric seconds view
        # of the same durations (the dtype leg's engine-neutral twin)
        "merge_asof_timedelta": _Q_MERGE_ASOF_TIMEDELTA_SQL,
        "stream_asof": _Q_STREAM_ASOF_SQL,
        "bucket_range_join": _Q_BUCKET_RANGE_SQL,
        "find_containing": _Q_FIND_CONTAINING_SQL,
        "find_containing_sweep": _Q_FIND_CONTAINING_SQL,
        "group_intervals": _Q_GROUP_INTERVALS_SQL,
        "group_intervals_ts": _Q_GROUP_INTERVALS_TS_SQL,
        "group_intervals_keyless": _Q_GROUP_KEYLESS_SQL,
        "combine_union": _combine_sql(1, None),
        "combine_k3": _combine_sql(3, None),
        "combine_gaps": _combine_sql(0, 0),
        "combine_attrs": _Q_COMBINE_ATTRS_SQL,
        "grouped_mode": _Q_GROUPED_MODE_SQL,
        "prev_next": _Q_PREV_NEXT_SQL,
        "impute_ffill": _Q_IMPUTE_FFILL_SQL,
        "impute_bfill": _Q_IMPUTE_BFILL_SQL,
        "impute_afill": _Q_IMPUTE_AFILL_SQL,
        "impute_lfill": _Q_IMPUTE_LFILL_SQL,
        "impute_linear": _Q_IMPUTE_LINEAR_SQL,
        "make_windows": _Q_MAKE_WINDOWS_SQL,
        "resample_eav_basic": _Q_RESAMPLE_BASIC_SQL,
        "resample_eav_irregular": _Q_RESAMPLE_IRREGULAR_SQL,
        "resample_eav_bucket": _Q_RESAMPLE_IRREGULAR_SQL,
        "resample_eav_quantiles": _Q_RESAMPLE_QUANT_SQL,
        "resample_eav_moments": _Q_RESAMPLE_MOMENTS_SQL,
        "resample_eav_ranks": _Q_RESAMPLE_RANKS_SQL,
        "resample_eav_mode": _Q_RESAMPLE_MODE_SQL,
        "resample_eav_sliding": _Q_RESAMPLE_SLIDING_SQL,
        "resample_eav_custom": _Q_RESAMPLE_CUSTOM_SQL,
        "resample_eav_custom_multi": _Q_RESAMPLE_CUSTOM_MULTI_SQL,
        "resample_eav_custom_slope": _Q_RESAMPLE_CUSTOM_SLOPE_SQL,
        "resample_interval": _Q_RESAMPLE_INTERVAL_SQL,
        "resample_interval_sweep": _Q_RESAMPLE_INTERVAL_SQL,
        "merge_date_intervals": _Q_MERGE_DATE_SQL,
        "merge_timedelta_intervals": _Q_MERGE_TIMEDELTA_SQL,
        # bucket strategy = same semantics, different physical path, so the
        # direct-path oracles apply verbatim (as merge_overlap_sweep does)
        "merge_date_bucket": _Q_MERGE_DATE_SQL,
        "merge_timedelta_bucket": _Q_MERGE_TIMEDELTA_SQL,
        "factorize": _Q_FACTORIZE_SQL,
        "inner_or_cross": _Q_INNER_CROSS_SQL,
        "dedup_exact": _Q_DEDUP_EXACT_SQL,
        "fingerprint": _Q_FINGERPRINT_SQL,
        "text_stats": _Q_TEXT_STATS_SQL,
        "quality_gate": _quality_gate_sql(),
        "json_props": _Q_JSON_PROPS_SQL,
        "topk": _Q_TOPK_SQL,
        "rollup": _Q_ROLLUP_SQL,
        "cube": _Q_CUBE_SQL,
        "scrub_pii": _Q_SCRUB_PII_SQL,
        "decontam": _Q_DECONTAM_SQL,
        "repetition": _Q_REPETITION_SQL,
        "bpe_tokens": _Q_BPE_TOKENS_SQL,
        "langid": _Q_LANGID_SQL,
        "ngram_jaccard": _Q_NGRAM_JACCARD_SQL,
        "dedup_clusters": _Q_DEDUP_CLUSTERS_SQL,
        "cross_dedup": _Q_CROSS_DEDUP_SQL,
        "sample_stratified": _Q_SAMPLE_STRATIFIED_SQL,
        "sample_split": _Q_SAMPLE_SPLIT_SQL,
        "mix_corpora": _Q_MIX_CORPORA_SQL,
        "cosine_topk": _Q_COSINE_TOPK_SQL,
        "cosine_topk_blocked": _Q_COSINE_TOPK_SQL,
        "kmeans_ann": _Q_KMEANS_ANN_SQL,
        "lm_perplexity": _Q_LM_PERPLEXITY_SQL,
        "substring_dedup": _Q_SUBSTRING_DEDUP_SQL,
        "substring_removal": _Q_SUBSTRING_REMOVAL_SQL,
        "embedding_neardup_exact": _Q_EMB_NEARDUP_SQL,
        "sessionize": _Q_SESSIONIZE_SQL,
        "funnel": _Q_FUNNEL_SQL,
        "retention": _Q_RETENTION_SQL,
        "stream_resample": _Q_STREAM_RESAMPLE_SQL,
        "stream_ffill": _Q_STREAM_FFILL_SQL,
        "stream_dedup": _Q_STREAM_DEDUP_SQL,
        "stream_resample_interval": _Q_STREAM_RESAMPLE_INTERVAL_SQL,
        "stream_funnel": _Q_STREAM_FUNNEL_SQL,
        "bpe_train": _Q_BPE_TRAIN_SQL,
        # recall certificates: oracle = the exact ground truth the
        # approximate operator must fully recover (see q_minhash_lsh)
        "minhash_lsh": _ngram_sql(0.8),
        "simhash": _ngram_sql(0.8),
        # full DuckDB twin of the multi-probe LSH ANN (literal hyperplanes)
        "lsh_ann": _lsh_ann_sql(),
        # full DuckDB twin of IVF-flat ANN (deterministic codebook)
        "ivf_ann": _Q_IVF_ANN_SQL,
        # real decode roundtrips: oracles recompute the same stats from the
        # generating values/formula, never seeing the binary
        "multimodal_audio": _Q_MULTIMODAL_AUDIO_SQL,
        "multimodal_decode": _Q_MULTIMODAL_DECODE_SQL,
        "multimodal_resize": _Q_MULTIMODAL_RESIZE_SQL,
        "multimodal_frames": _Q_MULTIMODAL_FRAMES_SQL,
        "multimodal_png": _Q_MULTIMODAL_PNG_SQL,
        "multimodal_jpeg": _Q_MULTIMODAL_JPEG_SQL,
        "multimodal_wav": _Q_MULTIMODAL_WAV_SQL,
        "multimodal_mp3": _Q_MULTIMODAL_MP3_SQL,
        "multimodal_mp4": _Q_MULTIMODAL_MP4_SQL,
        "embedding_q8": _Q_EMBEDDING_Q8_SQL,
        "q8_ann": _Q_COSINE_TOPK_SQL,
        # sketch tier: exact outputs with sketch-quality booleans, so the
        # oracle replays the exact side and TRUE-literals the certificate
        "hll_distinct": _Q_HLL_DISTINCT_SQL,
        "heavy_hitters": _Q_HEAVY_HITTERS_SQL,
        "quantile_sketch": _Q_QUANTILE_SKETCH_SQL,
        "bloom_prejoin": _Q_BLOOM_PREJOIN_SQL,
        "pack_sequences": _Q_PACK_SEQUENCES_SQL,
        "pack_bins": _Q_PACK_BINS_SQL,
        "chunk_documents": _Q_CHUNK_DOCUMENTS_SQL,
        "zorder": _Q_ZORDER_SQL,
    }

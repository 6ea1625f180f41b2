"""Interval joins: ``merge_intervals`` and ``find_containing_interval``.

Reference semantics: ``catabra_pandas/merging.py:13-508`` (merge_intervals)
and ``merging.py:511-649`` (find_containing_interval).  The reference
executes these with a single-process sweep-line kernel
(``merging.py:829-1113``); here the same semantics are declared to Catalyst
as join predicates, with two distributed physical strategies behind one API
(SURVEY.md §7 stage 2):

* **direct** — one ``join`` carrying the full predicate.  With equi-keys
  Catalyst runs a sort-merge/shuffled-hash join on the keys and evaluates the
  interval predicate as a residual filter; with a small side it broadcasts.
  ``how`` maps straight onto the native join type (left/right/full outer
  joins with residual conditions are supported by sort-merge join), so no
  anti-join passes or row-id bookkeeping are needed for unmatched rows.
* **bucket** — bucketized range join for large×large inputs with weak or
  absent equi-keys: explode each interval into coarse buckets of width ``W``
  (``explode(sequence(floor(start/W), floor(stop/W)))``), equi-join on
  (keys, bucket), apply the exact predicate as residual, and drop duplicate
  pairs.  Turns an O(n·m) broadcast-nested-loop into a shuffle join whose
  cost is O(matches + n·avg_span/W) — the strategy Databricks' range-join
  hint automates, expressed in the open DataFrame API.  This strategy
  requires start/stop columns on both sides and raises otherwise
  (there is no automatic fallback; pick ``strategy="direct"`` for
  half-infinite intervals); rows whose endpoint value is ±inf or NaN
  pair through the plain keyed join instead of the buckets.

Determinism: row ids, when the engine has to generate them (``keep``
reduction, ``return_indexers``, bucket pair-dedup), are **content-derived**
— a 128-bit xxhash64 of the row plus a duplicate rank — never
``monotonically_increasing_id``, whose values depend on partition layout and
intra-partition row order and can silently differ between two evaluations of
the same plan under task retries or AQE re-planning.

Open/closed endpoint flags compile to strict/non-strict comparisons
(truth table at reference ``merging.py:434-455`` collapses into one boolean
expression — see ``util.interval_overlap_cond``).  Rows with empty intervals
(null endpoints, start>stop, or start==stop with an open endpoint) never
match (reference ``merging.py:138-139, 230-288``).
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window, functions as F

from .sweep import sweep_point_in_interval
from ..util import (as_list, ensure_columns, exact_numeric_double,
                    interval_overlap_cond, plan_stats, valid_interval_cond)

LEFT_ID = "__left_row_id__"
RIGHT_ID = "__right_row_id__"

# --- cost-based strategy="auto" (few-large-groups detector) --------------
# Inputs whose Catalyst-estimated size is below this on either side skip
# the estimation jobs entirely: even a fully quadratic per-group residual
# over a sub-256KB side is cheap, and tiny dims (region/nation-shaped)
# should never pay a statistics pass.
_AUTO_TINY_BYTES = 256 << 10
# Pick sweep when the estimated residual comparisons of the direct join
# (n*m/G under a uniform-groups assumption — an UNDERestimate when keys
# are skewed, so the switch errs toward direct) exceed this multiple of
# the sweep's linear event count (n+m).  Calibrated from two measured
# anchor workloads on this hardware: BASELINE T1/T2 (10M x 1M in 10k
# groups, ratio ~91) run 3-6x FASTER direct — a residual comparison is
# one whole-stage-codegen predicate (~1.4 ns measured), while a sweep
# event pays sorts and multiple exchanges (~400 ns/event measured), so
# the true crossover sits near ratio ~300; scripts/bench_baseline.py t4
# (2M x 200k in 10 groups, ratio ~1.8e4) runs 8-15x faster on the
# sweep.  1024 splits the anchors with margin on the direct-favoring
# side: mispicking direct is bounded by the ratio itself, while
# mispicking sweep (as an earlier 64 threshold did on T1/T2) taxes
# every healthy large join.
_AUTO_RATIO = 1024.0
# Keyless variant: without equi-keys the direct plan is a broadcast
# nested-loop join — a tighter codegen loop than an SMJ residual (~3x
# cheaper per comparison measured), so the crossover sits higher.
# Measured anchors (narrow intervals, local[32]): ratio n*m/(n+m) 4.5k
# -> direct 5.5x faster (0.26 s vs 1.44 s); 18k -> sweep 1.5x (1.33 s
# vs 0.91 s); 45k -> sweep 6.7x; 91k -> sweep 16x (30.3 s vs 1.9 s).
# 16384 splits the 4.5k/45k anchors; below it a mispicked direct is
# bounded small, above it the BNLJ grows without bound.
_AUTO_RATIO_KEYLESS = 16384.0


def _auto_few_large_groups(left: DataFrame, right: DataFrame,
                           left_on, right_on) -> bool:
    """Decide direct-vs-sweep for ``strategy="auto"`` with equi-keys.

    The few-large-groups regime (10-ish hospitals/sites owning millions of
    rows each) makes the direct equi-join's per-group n_g*m_g residual
    quadratic; the reference ships a per-entity cost-based selector for
    exactly this (reference resampling.py:1271-1281 + _analyze_windows
    :1717-1816).  Here the decision is global and statistics-based: one
    count + approx_count_distinct(keys) aggregation per side (map-side
    partial agg, one-row result — two small jobs), then sweep iff
    ``n*m/G > _AUTO_RATIO * (n+m)`` with G = min of the two sides'
    distinct key counts.

    KEYLESS inputs (no equi-keys, no bucket_width) use the same machinery
    with G = 1, a count-only statistics pass, and the higher
    ``_AUTO_RATIO_KEYLESS`` bound — rescuing the large×large
    broadcast-nested-loop hazard without a user knob (the documented
    manual escapes, ``strategy="bucket"``/``"sweep"``, remain available
    and unchanged).

    Cost containment (cheapest evidence first — VERDICT r11 #6):

    1. **Optimizer statistics, zero jobs** (``util.plan_stats``): the
       Catalyst size estimate skips everything when either side is tiny
       (``_AUTO_TINY_BYTES``), and when the optimizer KNOWS a row count
       (``spark.range``, local relations, ANALYZEd tables — plain
       parquet scans report only bytes) the algebra often decides
       without running anything: sweep requires ``n*m/G > ratio*(n+m)``
       with ``G >= 1``, and ``n*m > ratio*(n+m) >= ratio*max(n,m)``
       forces ``min(n,m) > ratio`` — so a single known side with
       ``rows <= ratio`` proves direct on its own, and a keyless pair
       (``G == 1`` exactly) with both counts known is decided in full.
       ``row_count=None`` means UNKNOWN, never zero: unknown sides fall
       through to measurement.
    2. **Measured statistics, two one-row jobs submitted CONCURRENTLY**
       (count + approx_count_distinct(keys) per side, map-side partial
       agg): wall cost is the max of the two scans, not their sum.

    Callers with expensive non-persisted upstream pipelines should either
    persist them or pin ``strategy=`` explicitly: the measured pass
    re-executes the input plan once.
    """
    (rl, bl), (rr, br) = plan_stats(left), plan_stats(right)
    ratio = _AUTO_RATIO if left_on else _AUTO_RATIO_KEYLESS
    decision = False
    need_jobs = not (bl < _AUTO_TINY_BYTES or br < _AUTO_TINY_BYTES)
    if need_jobs:
        # Plan-time algebra on known row counts (None = unknown, never
        # zero).  min-side bound: sweep needs n*m/G > ratio*(n+m) with
        # G >= 1, and n*m > ratio*(n+m) >= ratio*max(n,m) implies
        # min(n,m) > ratio — one known small side proves direct alone.
        known = [c for c in (rl, rr) if c is not None]
        if known and min(known) <= ratio:
            need_jobs = False
        elif rl is not None and rr is not None and not left_on:
            # keyless: G == 1 exactly, the full decision is plan-time
            decision = (rl > 0 and rr > 0
                        and float(rl) * float(rr) > ratio * (rl + rr))
            need_jobs = False
    if need_jobs:
        def _stats(df, keys):
            aggs = [F.count(F.lit(1)).alias("n")]
            if keys:
                aggs.append(F.approx_count_distinct(
                    F.struct(*[F.col(k) for k in keys])).alias("g"))
            row = df.agg(*aggs).collect()[0]
            return int(row["n"]), (int(row["g"]) if keys else 1)

        # Both one-row agg jobs submitted concurrently: Spark schedules
        # jobs from separate threads independently, so the wall cost is
        # the slower scan, not the sum of the two.  A failing stats job
        # raises: a silent direct pick would hide the broken input.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as ex:
            fut_l = ex.submit(_stats, left, left_on)
            fut_r = ex.submit(_stats, right, right_on)
            n, gl = fut_l.result()
            m, gr = fut_r.result()
        g = max(1, min(gl, gr))
        decision = (n > 0 and m > 0
                    and float(n) * float(m) / g > ratio * (n + m))
    return decision


def _stamp_content_id(df: DataFrame, name: str) -> DataFrame:
    """Deterministic unique-per-row id: a struct of a 128-bit content hash
    and a duplicate rank.

    Stable across plan re-evaluations, task retries, and AQE re-planning —
    unlike ``monotonically_increasing_id``, whose values depend on partition
    layout and intra-partition row order, so two plan branches reading the
    same id-stamped frame can silently disagree.  Identical rows are
    interchangeable, so the arbitrary rank assignment among duplicates cannot
    change any downstream result.  Costs one shuffle of ``df`` (the dup-rank
    window partitions by the content hash); only paid when ids are actually
    needed.
    """
    cols = [F.col(c) for c in df.columns]
    h1 = F.xxhash64(F.lit(0), *cols)
    h2 = F.xxhash64(F.lit(1), *cols)
    w = Window.partitionBy(h1, h2).orderBy(F.lit(1))
    return df.withColumn(
        name,
        F.struct(h1.alias("h1"), h2.alias("h2"), F.row_number().over(w).alias("n")),
    )


def merge_intervals(
    left: DataFrame,
    right: DataFrame,
    on: Union[str, Sequence[str], None] = None,
    left_on: Union[str, Sequence[str], None] = None,
    right_on: Union[str, Sequence[str], None] = None,
    how: str = "left",
    left_start: Optional[str] = None,
    left_stop: Optional[str] = None,
    right_start: Optional[str] = None,
    right_stop: Optional[str] = None,
    include_left_start: bool = True,
    include_left_stop: bool = True,
    include_right_start: bool = True,
    include_right_stop: bool = True,
    suffixes: tuple = ("_x", "_y"),
    keep: str = "all",
    keep_by: Union[str, Sequence[str], None] = None,
    return_indexers: bool = False,
    strategy: str = "auto",
    bucket_width: Optional[float] = None,
    left_id: Optional[str] = None,
    right_id: Optional[str] = None,
) -> DataFrame:
    """Join two DataFrames on interval overlap plus optional equi-keys.

    Mirrors reference ``merge_intervals`` (``merging.py:13-508``) incl. the
    ``how="left"`` default, with Spark adaptations:

    * ``keep="first"/"last"/"both"`` needs an order over ``right`` (``left``
      for ``how="right"``); pandas uses row position, Spark rows are
      unordered, so the order is taken from ``keep_by`` (default: a generated
      content-hash id — supply ``keep_by`` or ``right_id`` for meaningful
      results).  The reduction is one ``min_by``/``max_by`` aggregation per
      kept row (no window pass, no anti-join).
    * ``return_indexers=True`` returns a DataFrame of id pairs
      (``__left_row_id__``, ``__right_row_id__``) instead of a positional
      ``(2,N)`` array (reference ``merging.py:106-115``).  With user-supplied
      ``left_id``/``right_id`` (recommended; they must be unique) missing
      rows get id -1; generated ids are opaque content-hash structs and
      missing rows are null.
    * ``strategy``: "direct", "bucket", "sweep", or "auto".  "auto" means
      bucket when keyless with a ``bucket_width``; with equi-keys it runs
      a cost-based few-large-groups detector (``_auto_few_large_groups``:
      optimizer plan statistics first — known row counts often decide
      with zero jobs — then one concurrent count+approx_count_distinct
      pass per side, skipped for tiny inputs) and picks the
      sweep when the direct join's
      estimated per-group residual ``n*m/G`` exceeds ``1024*(n+m)`` — the
      regime where direct is a measured 15x slower
      (scripts/bench_baseline.py t4, scripts/scale_smoke.py autostrat
      tier); otherwise direct.  KEYLESS joins with four finite endpoints
      and no ``bucket_width`` run the same detector with G=1 against the
      higher keyless bound (16384: the direct plan is a broadcast
      nested-loop whose comparisons are ~3x cheaper than SMJ residuals
      but whose cost grows as n*m without a key to divide it; measured
      16x slower than the sweep at 1M x 100k, while small keyless inputs
      where the BNLJ wins stay direct).  "sweep" is
      the output-sensitive sort-sweep kernel (``operators/sweep.py``):
      a single point-in-interval sweep when one side is degenerate (same
      start/stop column), else a general overlap join decomposed into two
      disjoint sweeps; non-inner ``how`` composes via the anti-join path
      (like bucket), half-infinite endpoints pin ranges to group bounds.
      The right choice when key groups are large enough that the direct
      join's per-group n·m residual dominates (the few-large-groups
      regime; see scripts/bench_baseline.py t4).
    * ``keep_order``/``copy`` of the reference are meaningless on Spark
      (no row order, immutable frames) and intentionally absent.

    **Skewed keys** (one entity owning a large share of the rows — the
    hot-patient/hot-session shape): measured at 10M observations with one
    entity holding 50% (scripts/scale_smoke.py ``skew`` tier), direct and
    sweep agree cell-exactly, and default AQE deliberately does NOT split
    the hot partition (splitting would break the join→agg
    co-partitioning; the measured imbalance was a benign 2.3x
    max/median).  Above ~10x max/median task skew, set::

        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")

    which rewrites the join to ``SortMergeJoin(skew=true)`` (measured
    median task 2143 -> 1507 ms on the certificate workload) at the cost
    of an extra shuffle before the aggregation.  No salting knob is
    built in: AQE's runtime split is the same mechanism without a manual
    fan-out factor to mis-tune.

    A ``None`` start/stop column means that endpoint is +/- infinity
    (reference ``merging.py:67-78``); pass the same column as start and stop
    to express points.
    """
    if how not in ("inner", "left", "right", "outer"):
        raise ValueError(f"how must be inner/left/right/outer, got {how!r}")
    if keep not in ("all", "first", "last", "both"):
        raise ValueError(f"keep must be all/first/last/both, got {keep!r}")

    if on is not None:
        if left_on is not None or right_on is not None:
            raise ValueError("on is mutually exclusive with left_on/right_on")
        left_on = right_on = as_list(on)
        drop_right_keys = True
    else:
        left_on = as_list(left_on)
        right_on = as_list(right_on)
        drop_right_keys = False
    if len(left_on) != len(right_on):
        raise ValueError("left_on and right_on must have equal length")

    ensure_columns(left, left_on + [c for c in (left_start, left_stop) if c])
    ensure_columns(right, right_on + [c for c in (right_start, right_stop) if c])

    # --- physical strategy & id requirements ---------------------------
    has_eq = len(left_on) > 0
    use_bucket = strategy == "bucket" or (
        strategy == "auto" and not has_eq and bucket_width is not None)
    use_sweep = strategy == "sweep"
    if (strategy == "auto" and not use_bucket
            # keyed: few-large-groups detector; keyless (bucket_width
            # None, else use_bucket caught it): BNLJ-rescue detector
            # sweep preconditions, checked here so auto never raises:
            # four finite endpoints; a degenerate (point) side needs
            # inclusive flags
            and left_start is not None and left_stop is not None
            and right_start is not None and right_stop is not None
            and (left_start != left_stop
                 or (include_left_start and include_left_stop))
            and (right_start != right_stop
                 or (include_right_start and include_right_stop))):
        use_sweep = _auto_few_large_groups(left, right, left_on, right_on)
    if use_sweep:
        # the sort-sweep kernel (operators/sweep.py): output-sensitive
        # point-in-interval join, requires one degenerate (point) side and
        # produces the inner match set
        if left_start is None and right_start is None:
            raise ValueError('strategy="sweep" needs a start column on at '
                             "least one side (both -inf degenerates to an "
                             "equi-join; use direct)")
        if (left_start is None and left_stop is None) or \
                (right_start is None and right_stop is None):
            raise ValueError('strategy="sweep" requires at least one finite '
                             "endpoint per side (a fully unbounded side is "
                             "an equi-join; use direct)")
        if left_start == left_stop and left_start is not None:
            points_side = "left"
            if not (include_left_start and include_left_stop):
                raise ValueError("sweep: point-side include flags must be True")
        elif right_start == right_stop and right_start is not None:
            points_side = "right"
            if not (include_right_start and include_right_stop):
                raise ValueError("sweep: point-side include flags must be True")
        else:
            # general overlap: decompose into two disjoint point-in-interval
            # sweeps (see the use_sweep join branch below); a side with a
            # -inf start contributes no sweep of its own start points
            points_side = None
    # full outer without equi-keys cannot run as a native BNLJ full join;
    # the bucket/sweep strategies are inner-only: all fall back to
    # inner + anti-joins
    anti_path = ((use_bucket or use_sweep) and how != "inner") \
        or (how == "outer" and not has_eq)
    # the keep reduction partitions by LEFT_ID for every how except "right"
    # (where it partitions by RIGHT_ID and, absent keep_by, ORDERS by LEFT_ID)
    need_left_id = (return_indexers or anti_path
                    or (keep != "all" and (how != "right" or keep_by is None)))
    # keep + outer additionally needs right ids: rights whose every match is
    # reduced away must be re-injected as unmatched afterwards
    need_right_id = (return_indexers or anti_path
                     or (keep != "all" and (how in ("right", "outer")
                                            or keep_by is None)))

    # --- attach row ids (only when something consumes them) ------------
    gen_left_id = left_id is None
    gen_right_id = right_id is None
    has_lid = has_rid = False
    # inner/left keep reduction consumes LEFT_ID only as its grouping key —
    # duplicate left rows are interchangeable there (identical rows match
    # identical rights and pick identical winners), so instead of the
    # rank-window stamp (shuffle + sort + row_number) pre-aggregate left to
    # distinct rows with a multiplicity count (map-side-combinable shuffle,
    # shrinks the join probe side) and re-explode the multiplicity at the
    # end.  The id is then a narrow 128-bit content hash (no dup rank
    # needed: rows are distinct post-dedup; a cross-content collision would
    # merge two left rows' reductions — same 2^-128 bound as the generated
    # interval ids in find_containing_interval).
    content_keep = (gen_left_id and need_left_id and not return_indexers
                    and not anti_path and keep != "all"
                    and how in ("inner", "left"))
    MULT = "__left_mult__"
    if content_keep and MULT in left.columns:
        raise ValueError(f"column name {MULT!r} is reserved by merge_intervals")
    if not gen_left_id:
        if left_id != LEFT_ID:
            left = left.withColumn(LEFT_ID, F.col(left_id))
        has_lid = True
    elif content_keep:
        # deferred: the dedup runs on the VALID rows only (below), so the
        # invalid-left union branch stays a bare scan+filter with no
        # exchange (invalid rows bypass join and reduction entirely and
        # keep their original multiplicity)
        has_lid = True
    elif need_left_id:
        left = _stamp_content_id(left, LEFT_ID)
        has_lid = True
    if not gen_right_id:
        if right_id != RIGHT_ID:
            right = right.withColumn(RIGHT_ID, F.col(right_id))
        has_rid = True
    elif need_right_id:
        right = _stamp_content_id(right, RIGHT_ID)
        has_rid = True

    # --- drop empty intervals (reference merging.py:230-288) -----------
    lvalid = valid_interval_cond(
        F.col(left_start) if left_start else None,
        F.col(left_stop) if left_stop else None,
        include_left_start, include_left_stop)
    rvalid = valid_interval_cond(
        F.col(right_start) if right_start else None,
        F.col(right_stop) if right_stop else None,
        include_right_start, include_right_stop)
    lkeys_ok = F.lit(True)
    for k in left_on:
        lkeys_ok = lkeys_ok & F.col(k).isNotNull()
    rkeys_ok = F.lit(True)
    for k in right_on:
        rkeys_ok = rkeys_ok & F.col(k).isNotNull()
    lm = left.filter(lvalid & lkeys_ok)
    rm = right.filter(rvalid & rkeys_ok)
    if content_keep:
        lm = lm.groupBy(lm.columns).agg(F.count(F.lit(1)).alias(MULT))
        cols = [F.col(c) for c in lm.columns if c != MULT]
        lm = lm.withColumn(LEFT_ID, F.struct(
            F.xxhash64(F.lit(0), *cols).alias("h1"),
            F.xxhash64(F.lit(1), *cols).alias("h2")))

    # --- suffix overlapping columns ------------------------------------
    overlap = (set(left.columns) & set(right.columns)) - {LEFT_ID, RIGHT_ID}
    if drop_right_keys:
        overlap -= set(left_on)
    lsuf, rsuf = suffixes
    lren = {c: c + lsuf for c in overlap if lsuf}
    rren = {c: c + rsuf for c in overlap if rsuf}
    if overlap and not lsuf and not rsuf:
        raise ValueError(f"overlapping columns {sorted(overlap)} need a suffix")

    def _apply_ren(df, ren):
        for a, b in ren.items():
            df = df.withColumnRenamed(a, b)
        return df

    # rename AFTER predicate construction is avoided by renaming first and
    # translating the interval/key column names through the rename maps.
    # The alias re-projection mints FRESH attribute ids on both sides:
    # when left and right derive from the same parent frame (self-joins —
    # windows and observations cut from one table; localCheckpoint
    # preserves exprIds, so even checkpointed frames collide), the later
    # parent-qualified references (lm_r[...] / rm_r[...]) would otherwise
    # be ambiguous and fail analysis.
    lm_r = _apply_ren(lm, lren)
    rm_r = _apply_ren(rm, rren)
    lm_r = lm_r.select([F.col(c).alias(c) for c in lm_r.columns])
    rm_r = rm_r.select([F.col(c).alias(c) for c in rm_r.columns])
    l_name = lambda c: lren.get(c, c) if c else None  # noqa: E731
    r_name = lambda c: rren.get(c, c) if c else None  # noqa: E731

    l_out_cols = [lren.get(c, c) for c in left.columns]
    r_out_cols = [rren.get(c, c) for c in right.columns]
    if drop_right_keys:
        dropped = {r_name(b) for b in right_on}
        r_out_cols = [c for c in r_out_cols if c not in dropped]

    # --- build join condition ------------------------------------------
    eq = [lm_r[l_name(a)] == rm_r[r_name(b)] for a, b in zip(left_on, right_on)]
    rng = interval_overlap_cond(
        lm_r[l_name(left_start)] if left_start else None,
        lm_r[l_name(left_stop)] if left_stop else None,
        rm_r[r_name(right_start)] if right_start else None,
        rm_r[r_name(right_stop)] if right_stop else None,
        include_left_start, include_left_stop,
        include_right_start, include_right_stop,
    )
    cond = rng
    for e in eq:
        cond = e & cond

    # --- join ----------------------------------------------------------
    if use_sweep and points_side is None:
        # General overlap via two DISJOINT point-in-interval sweeps —
        # every overlapping pair is found exactly once by where the later
        # start falls (reference merging.py:434-455 uses the same
        # containment decomposition for its sweep kernel):
        #   A: right.start inside [left.start, left.stop]  (starts tie -> A)
        #   B: left.start inside (right.start, right.stop]  (strict lower)
        # A's implied "left.start <= right.stop" conjunct can overmatch
        # only in the degenerate corner left.start == right.start ==
        # right.stop under an exclusive endpoint, so the exact overlap
        # predicate is re-applied as an output-sized residual filter.
        lk = [l_name(a) for a in left_on]
        rk = [r_name(b) for b in right_on]
        parts = []
        if right_start is not None:
            parts.append(sweep_point_in_interval(
                lm_r, rm_r, lk, rk, l_name(left_start), l_name(left_stop),
                r_name(right_start), include_start=True,
                include_stop=(include_right_start and include_left_stop),
                interval_id=LEFT_ID if has_lid else None))
        if left_start is not None and right_start is not None:
            parts.append(sweep_point_in_interval(
                rm_r, lm_r, rk, lk, r_name(right_start), r_name(right_stop),
                l_name(left_start), include_start=False,
                include_stop=(include_left_start and include_right_stop),
                interval_id=RIGHT_ID if has_rid else None))
        elif left_start is not None:
            # right.start is -inf: EVERY pair falls in the "left starts
            # inside right" case, and the strict lower bound vanishes
            parts.append(sweep_point_in_interval(
                rm_r, lm_r, rk, lk, None, r_name(right_stop),
                l_name(left_start),
                include_stop=(include_left_start and include_right_stop),
                interval_id=RIGHT_ID if has_rid else None))
        matched = parts[0]
        for p in parts[1:]:
            matched = matched.unionByName(p)
        rng_by_name = interval_overlap_cond(
            F.col(l_name(left_start)) if left_start else None,
            F.col(l_name(left_stop)) if left_stop else None,
            F.col(r_name(right_start)) if right_start else None,
            F.col(r_name(right_stop)) if right_stop else None,
            include_left_start, include_left_stop,
            include_right_start, include_right_stop)
        matched = matched.filter(rng_by_name)
    elif use_sweep:
        if points_side == "right":
            ivl_df, pts_df = lm_r, rm_r
            ivl_keys = [l_name(a) for a in left_on]
            pts_keys = [r_name(b) for b in right_on]
            iv_s, iv_t = l_name(left_start), l_name(left_stop)
            pt_c = r_name(right_start)
            inc_s, inc_t = include_left_start, include_left_stop
            iid = LEFT_ID if has_lid else None
        else:
            ivl_df, pts_df = rm_r, lm_r
            ivl_keys = [r_name(b) for b in right_on]
            pts_keys = [l_name(a) for a in left_on]
            iv_s, iv_t = r_name(right_start), r_name(right_stop)
            pt_c = l_name(left_start)
            inc_s, inc_t = include_right_start, include_right_stop
            iid = RIGHT_ID if has_rid else None
        matched = sweep_point_in_interval(
            ivl_df, pts_df, ivl_keys, pts_keys, iv_s, iv_t, pt_c,
            include_start=inc_s, include_stop=inc_t, interval_id=iid)
    elif use_bucket:
        if bucket_width is None:
            raise ValueError("bucket strategy requires bucket_width")
        matched = _bucket_join(
            lm_r, rm_r, eq, rng, bucket_width,
            l_name(left_start), l_name(left_stop),
            r_name(right_start), r_name(right_stop))
    elif anti_path:
        matched = lm_r.join(rm_r, on=cond, how="inner")
    else:
        native = {"inner": "inner", "left": "left", "right": "right", "outer": "full"}[how]
        matched = lm_r.join(rm_r, on=cond, how=native)

    # unify the key columns for on= (pandas semantics: one key column whose
    # value survives outer joins from whichever side is present); must run
    # before any union, while the parent-frame column lineage still resolves
    if drop_right_keys and not use_sweep:
        for a, b in zip(left_on, right_on):
            la = l_name(a)
            matched = (
                matched.withColumn("__key_tmp__", F.coalesce(lm_r[la], rm_r[r_name(b)]))
                .drop(lm_r[la]).drop(rm_r[r_name(b)])
                .withColumnRenamed("__key_tmp__", la)
            )
    # (sweep already emits a single key column per pair: the point-side
    # duplicate-named key is dropped inside sweep_point_in_interval)

    # anti-join unmatched-row injection — only for the strategies that cannot
    # express how= natively (ids here are content-derived, so both branches
    # of the plan agree on them)
    if anti_path:
        if how in ("left", "outer"):
            unmatched_l = lm_r.join(matched.select(LEFT_ID), on=LEFT_ID, how="left_anti")
            matched = matched.unionByName(unmatched_l, allowMissingColumns=True)
        if how in ("right", "outer"):
            unmatched_r = rm_r.join(matched.select(RIGHT_ID), on=RIGHT_ID, how="left_anti")
            if drop_right_keys:
                for a, b in zip(left_on, right_on):
                    unmatched_r = unmatched_r.withColumn(l_name(a), F.col(r_name(b)))
                    unmatched_r = unmatched_r.drop(r_name(b)) if r_name(b) != l_name(a) else unmatched_r
            matched = matched.unionByName(unmatched_r, allowMissingColumns=True)

    # --- keep reduction (reference merging.py:728-748) ------------------
    # one min_by/max_by aggregation per kept row: collapses the reference's
    # sort + positional slice (and round 1's window + filter + anti-join,
    # ~4 shuffles) into the single groupBy shuffle
    if keep != "all":
        part_id = LEFT_ID if how != "right" else RIGHT_ID
        if how != "right":
            own_names = list(l_out_cols)
            if content_keep:
                own_names.append(MULT)  # constant per left content group
        else:
            own_names = list(r_out_cols) + ([l_name(a) for a in left_on] if drop_right_keys else [])
        own_set = set(own_names)
        other_names = [c for c in matched.columns
                       if c not in own_set and c != part_id]
        order_cols = as_list(keep_by) if keep_by else [RIGHT_ID if how != "right" else LEFT_ID]
        order_struct = F.struct(*[F.col(c) for c in order_cols])
        others = F.struct(*[F.col(c).alias(c) for c in other_names])
        # own columns are functionally dependent on part_id (ids are unique
        # per row), so they ride along as extra GROUP KEYS instead of first()
        # aggregates: the sole remaining aggregate is one min_by/max_by, and
        # the per-row cost of N imperative first() buffers disappears
        # (measured 1.8x on the keep=first headline query).  Non-groupable
        # (map-typed) columns cannot be keys and keep the first() path.
        dtypes = dict(matched.dtypes)
        key_owns = [c for c in own_names
                    if c != part_id and not dtypes[c].startswith("map<")]
        agg_owns = [c for c in own_names
                    if c != part_id and dtypes[c].startswith("map<")]
        own_aggs = [F.first(F.col(c)).alias(c) for c in agg_owns]

        base, passthru = matched, None
        if how == "outer":
            # unmatched other-side rows have a null partition id; they bypass
            # the reduction (grouping them together would merge them all)
            passthru = matched.filter(F.col(part_id).isNull())
            base = matched.filter(F.col(part_id).isNotNull())

        if keep in ("first", "last"):
            pick = (F.min_by(others, order_struct) if keep == "first"
                    else F.max_by(others, order_struct))
            red = base.groupBy(part_id, *key_owns).agg(*own_aggs, pick.alias("__pick__"))
            red = red.select(
                part_id, *[c for c in own_names if c != part_id],
                *[F.col("__pick__").getField(c).alias(c) for c in other_names])
        else:  # both: first and last, deduplicated
            red = base.groupBy(part_id, *key_owns).agg(
                *own_aggs,
                F.min_by(others, order_struct).alias("__f__"),
                F.max_by(others, order_struct).alias("__l__"))
            red = red.withColumn(
                "__b__", F.explode(F.array_distinct(F.array("__f__", "__l__"))))
            red = red.select(
                part_id, *[c for c in own_names if c != part_id],
                *[F.col("__b__").getField(c).alias(c) for c in other_names])
        matched = red if passthru is None else \
            red.unionByName(passthru.select(*red.columns))

        # reference semantics: missing-row injection happens AFTER the keep
        # reduction (merging.py:498-501 -> _finalize_indexers), so under
        # how="outer" a right row whose every match was reduced away comes
        # back as unmatched (deterministic: ids are content-derived)
        if how == "outer":
            kept_r = matched.select(RIGHT_ID).filter(F.col(RIGHT_ID).isNotNull())
            dropped_r = rm_r.join(kept_r, on=RIGHT_ID, how="left_anti")
            if drop_right_keys:
                for a, b in zip(left_on, right_on):
                    dropped_r = dropped_r.withColumn(l_name(a), F.col(r_name(b)))
                    if r_name(b) != l_name(a):
                        dropped_r = dropped_r.drop(r_name(b))
            matched = matched.unionByName(dropped_r, allowMissingColumns=True)

    # --- how: rows dropped as invalid intervals / null keys still appear
    # in left/right/outer output (reference merging.py:751-787)
    if how in ("left", "outer"):
        invalid_l = _apply_ren(left.filter(~(lvalid & lkeys_ok)), lren)
        matched = matched.unionByName(invalid_l, allowMissingColumns=True)
    if how in ("right", "outer"):
        invalid_r = _apply_ren(right.filter(~(rvalid & rkeys_ok)), rren)
        if drop_right_keys:
            for a, b in zip(left_on, right_on):
                invalid_r = invalid_r.withColumn(l_name(a), F.col(r_name(b)))
                if r_name(b) != l_name(a):
                    invalid_r = invalid_r.drop(r_name(b))
        matched = matched.unionByName(invalid_r, allowMissingColumns=True)

    # restore the multiplicity of duplicate left rows collapsed by the
    # content_keep pre-aggregation (narrow explode, no shuffle); invalid
    # left rows joined in above never went through the dedup -> count 1
    if content_keep:
        matched = matched.withColumn(
            MULT, F.explode(F.sequence(
                F.lit(1), F.coalesce(F.col(MULT).cast("int"), F.lit(1)))))
        matched = matched.drop(MULT)

    if return_indexers:
        lcol = F.col(LEFT_ID) if gen_left_id else F.coalesce(F.col(LEFT_ID), F.lit(-1))
        rcol = F.col(RIGHT_ID) if gen_right_id else F.coalesce(F.col(RIGHT_ID), F.lit(-1))
        return matched.select(lcol.alias(LEFT_ID), rcol.alias(RIGHT_ID))
    if has_lid and gen_left_id:
        matched = matched.drop(LEFT_ID)
    if has_rid and gen_right_id:
        matched = matched.drop(RIGHT_ID)
    return matched


def _bucket_join(
    lm: DataFrame,
    rm: DataFrame,
    eq: list,
    rng: Column,
    bucket_width: float,
    l_start: Optional[str],
    l_stop: Optional[str],
    r_start: Optional[str],
    r_stop: Optional[str],
) -> DataFrame:
    """Bucketized range join: explode intervals into width-W buckets, join on
    the bucket id (+ any equi-keys), post-filter with the exact predicate.
    Pair uniqueness WITHOUT a dedup shuffle: an overlapping pair appears in
    every bucket its intersection spans, so each pair is emitted only from
    the single bucket containing ``max(l_start, r_start)`` — a point every
    overlapping pair's intersection contains.  (A ``dropDuplicates`` over
    the candidate pairs cost a full extra shuffle of the match set and
    forced row-id generation; this filter is free and needs no ids.)

    Intervals with a missing endpoint column cannot be bucketized, so both
    sides must supply start and stop columns; otherwise this raises (no
    automatic fallback — use ``strategy="direct"``).  Rows whose endpoint
    VALUE is ±inf or NaN (float columns only) cannot explode into buckets
    either: they skip bucketing and pair through the plain keyed join with
    the exact predicate, unioned with the bucketed pairs — such rows are
    rare, so those joins stay small, and no pair is emitted twice.

    **Non-numeric (string) endpoints** are dictionary-encoded first: the
    distinct endpoint values of BOTH sides are ranked into dense
    order-preserving int codes (lexicographic order == code order, so
    bucket containment over codes is exact), each side joins the
    broadcast dictionary for its start/stop code, and the bucket
    explode/equi-join runs on the codes — keeping large×large string
    interval joins off the broadcast-nested-loop path.  The exact
    predicate still runs on the ORIGINAL columns as the residual filter.
    Scale note: the dictionary is the distinct endpoint VALUE set
    (version strings, grades, IDs — enum-ish, far smaller than the
    rows); its global rank is a single-partition sort of that distinct
    set, the documented trade of ``factorize(sort=True)``.
    """
    if not all([l_start, l_stop, r_start, r_stop]):
        raise ValueError("bucket strategy requires finite start/stop columns on both sides")
    lsch = {f.name: f.dataType for f in lm.schema.fields}
    rsch = {f.name: f.dataType for f in rm.schema.fields}

    from pyspark.sql import types as T
    str_endpoints = [isinstance(sch[c], T.StringType)
                     for sch, c in ((lsch, l_start), (lsch, l_stop),
                                    (rsch, r_start), (rsch, r_stop))]
    if any(str_endpoints):
        if not all(str_endpoints):
            raise ValueError(
                "bucket strategy: mixed string/non-string interval "
                "endpoints cannot be ranked into one code space")
        from ..util import ordered_dense_ids
        # point intervals (start == stop) contribute ONE dictionary branch
        # and ONE code-attach join per side, not two identical ones — the
        # common point-in-range case would otherwise scan and broadcast-join
        # the big side twice for the same code
        branches = [lm.select(F.col(l_start).alias("__v__"))]
        if l_stop != l_start:
            branches.append(lm.select(F.col(l_stop).alias("__v__")))
        branches.append(rm.select(F.col(r_start).alias("__v__")))
        if r_stop != r_start:
            branches.append(rm.select(F.col(r_stop).alias("__v__")))
        dic = branches[0]
        for b in branches[1:]:
            dic = dic.unionByName(b)
        dic = dic.distinct()
        # distributed order-preserving rank (range buckets + O(P) offsets
        # — no single-partition sort), then checkpoint: the dictionary
        # derives from BOTH inputs, so joining it back to either would be
        # a self-join whose deduplicated attribute ids break the caller's
        # residual-predicate references (ordered_dense_ids checkpoints
        # internally, giving the code map fresh attributes for free)
        dic = ordered_dense_ids(dic, ["__v__"], "__code__") \
            .withColumn("__code__", F.col("__code__").cast("double"))

        def code_of(df, col, out):
            d = F.broadcast(dic.select(F.col("__v__"),
                                       F.col("__code__").alias(out)))
            return df.join(d, on=df[col] == d["__v__"], how="left").drop("__v__")

        lm = code_of(lm, l_start, "__lsc__")
        lm = (lm.withColumn("__ltc__", F.col("__lsc__"))
              if l_stop == l_start else code_of(lm, l_stop, "__ltc__"))
        rm = code_of(rm, r_start, "__rsc__")
        rm = (rm.withColumn("__rtc__", F.col("__rsc__"))
              if r_stop == r_start else code_of(rm, r_stop, "__rtc__"))
        l_s, l_t, r_s, r_t = "__lsc__", "__ltc__", "__rsc__", "__rtc__"
        code_cols = ["__lsc__", "__ltc__", "__rsc__", "__rtc__"]
        numeric = lambda frame, c: frame[c]  # noqa: E731 — codes are double
        lfin = rfin = None  # codes are finite
    else:
        l_s, l_t, r_s, r_t = l_start, l_stop, r_start, r_stop
        code_cols = []
        numeric = lambda frame, c: exact_numeric_double(  # noqa: E731
            frame[c], (lsch if c in lsch else rsch)[c])
        lfin = _finite_cond(lm, lsch, (l_s, l_t))
        rfin = _finite_cond(rm, rsch, (r_s, r_t))

    lmb = lm if lfin is None else lm.filter(lfin)
    rmb = rm if rfin is None else rm.filter(rfin)
    lb = F.explode(F.sequence(
        F.floor(numeric(lmb, l_s) / F.lit(bucket_width)),
        F.floor(numeric(lmb, l_t) / F.lit(bucket_width)),
    )).alias("__bucket__")
    rb = F.explode(F.sequence(
        F.floor(numeric(rmb, r_s) / F.lit(bucket_width)),
        F.floor(numeric(rmb, r_t) / F.lit(bucket_width)),
    )).alias("__bucket__")
    le = lmb.select("*", lb)
    re_ = rmb.select("*", rb)
    anchor = F.floor(F.greatest(numeric(le, l_s),
                                numeric(re_, r_s)) / F.lit(bucket_width))
    cond = (le["__bucket__"] == re_["__bucket__"]) & (le["__bucket__"] == anchor)
    for e in eq:
        cond = cond & e  # eq columns resolve by name through the exploded frames
    joined = le.join(re_, on=cond, how="inner").drop(le["__bucket__"]).drop(re_["__bucket__"])
    for c in code_cols:
        joined = joined.drop(c)
    joined = joined.filter(rng)
    exact = rng
    for e in eq:
        exact = e & exact
    # non-finite lefts pair with every right; finite lefts additionally
    # with the non-finite rights the bucket join skipped.  Positional
    # union: every branch emits lm's then rm's columns, and with on= keys
    # both carry the key name
    if lfin is not None:
        joined = joined.union(lm.filter(~lfin).join(rm, on=exact, how="inner"))
    if rfin is not None:
        joined = joined.union(lmb.join(rm.filter(~rfin), on=exact, how="inner"))
    return joined


def _finite_cond(df: DataFrame, sch: dict, cols) -> Optional[Column]:
    """Every float column of ``df`` among ``cols`` holds a finite value;
    None when there is no float column (no other type holds ±inf or
    NaN)."""
    from pyspark.sql import types as T

    cond = None
    for c in dict.fromkeys(cols):
        if isinstance(sch[c], (T.FloatType, T.DoubleType)):
            # Spark orders NaN above +inf, so this rules NaN out too
            ok = F.abs(df[c]) < F.lit(float("inf"))
            cond = ok if cond is None else cond & ok
    return cond


def find_containing_interval(
    points: DataFrame,
    intervals: DataFrame,
    point_cols: Union[str, Sequence[str]],
    which: str = "first",
    start_col: Optional[str] = "start",
    stop_col: Optional[str] = "stop",
    length_col: Optional[str] = None,
    group_by: Union[str, Sequence[str], None] = None,
    include_start: bool = True,
    include_stop: bool = True,
    interval_id: Optional[str] = None,
    strategy: str = "auto",
) -> DataFrame:
    """For each point, the id of the first/last containing interval, -1 if
    none.  Reference: ``merging.py:511-649`` (delegates to merge_intervals at
    ``merging.py:610-623``, as does this implementation).

    ``strategy`` forwards to ``merge_intervals`` — point-in-interval is
    exactly the sort-sweep kernel's shape, so ``strategy="sweep"`` is the
    scale path when interval groups are large (see ``operators/sweep.py``).
    The default "auto" (r11) runs merge_intervals' cost-based detector
    (points are a degenerate inclusive side, so the sweep preconditions
    always hold): with ``group_by`` keys, sweep when the direct join's
    estimated per-group residual blows past the linear bound; keyless,
    the same rule with G=1 against the higher keyless bound (rescuing
    the large×large broadcast-nested-loop); small inputs stay direct.

    "First"/"last" refer to interval ids: pass ``interval_id`` naming an
    existing id column in ``intervals`` for meaningful results (the reference
    uses row position, which Spark does not have; generated ids are a
    deterministic content hash — stable, but with no meaningful order).

    Returns ``points`` with one added id column per point column: named
    ``{col}__first`` / ``{col}__last`` for ``which="both"``, else ``{col}__{which}``
    (the reference uses a column MultiIndex for "both", flattened here).
    The id column has ``interval_id``'s type when supplied, else
    DECIMAL(38,0) (generated 126-bit content hash).

    Implementation note: the containment pairs are aggregated by point
    CONTENT (``group_by`` + point value) and joined back onto ``points`` —
    min/max are idempotent under row duplication, so no per-row point id is
    needed and the result is deterministic by construction (duplicate points
    simply receive the same answer).
    """
    if which not in ("first", "last", "both"):
        raise ValueError(f'which must be "first", "last" or "both", got {which!r}')
    point_cols = as_list(point_cols)
    group_by = as_list(group_by)
    ensure_columns(points, point_cols + group_by)

    if length_col is not None:
        if (start_col is None) == (stop_col is None):
            raise ValueError("with length_col, exactly one of start_col/stop_col must be given")
        if stop_col is None:
            intervals = intervals.withColumn("__stop__", F.col(start_col) + F.col(length_col))
            stop_col = "__stop__"
        else:
            intervals = intervals.withColumn("__start__", F.col(stop_col) - F.col(length_col))
            start_col = "__start__"

    if interval_id is None:
        # deterministic 126-bit content hash as DECIMAL(38,0) (NOT
        # monotonically_increasing_id: its values could differ between plan
        # re-evaluations; NOT a single xxhash64: at >= 4B intervals 64-bit
        # birthday collisions become plausible and would silently merge two
        # intervals' ids).  Decimal keeps min/max ordering and the -1
        # missing sentinel working.
        cols = [F.col(c) for c in intervals.columns]
        maxlong = F.lit(2 ** 63 - 1)
        h1 = F.xxhash64(F.lit(0), *cols).bitwiseAND(maxlong).cast("decimal(20,0)")
        h2 = F.xxhash64(F.lit(1), *cols).bitwiseAND(maxlong).cast("decimal(20,0)")
        two63 = F.lit("9223372036854775808").cast("decimal(20,0)")
        intervals = intervals.withColumn(
            RIGHT_ID, (h1 * two63 + h2).cast("decimal(38,0)"))
        interval_id = RIGHT_ID

    ivl = intervals.select(
        *group_by,
        F.col(start_col).alias("__iv_start__"),
        F.col(stop_col).alias("__iv_stop__"),
        F.col(interval_id).alias(RIGHT_ID))

    out = points
    for pc in point_cols:
        pairs = merge_intervals(
            points.select(*group_by, pc),
            ivl,
            on=group_by or None,
            how="inner",
            left_start=pc, left_stop=pc,
            right_start="__iv_start__", right_stop="__iv_stop__",
            include_right_start=include_start,
            include_right_stop=include_stop,
            right_id=RIGHT_ID,
            strategy=strategy,
        )
        agg_exprs = []
        if which in ("first", "both"):
            agg_exprs.append(F.min(RIGHT_ID).alias(f"{pc}__first"))
        if which in ("last", "both"):
            agg_exprs.append(F.max(RIGHT_ID).alias(f"{pc}__last"))
        red = pairs.groupBy(*group_by, pc).agg(*agg_exprs)
        out = out.join(red, on=group_by + [pc], how="left")
        for suffix in (["first", "last"] if which == "both" else [which]):
            out = out.withColumn(f"{pc}__{suffix}",
                                 F.coalesce(F.col(f"{pc}__{suffix}"), F.lit(-1)))
    return out

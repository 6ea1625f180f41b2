"""Sort-sweep point-in-interval join — the reference's core kernel
(``catabra_pandas/merging.py:829-1113`` ``_find_contained_points``)
re-expressed as Spark window functions.

The direct strategy executes ``points ⋈ intervals`` as an equi-join on the
group keys with the range predicate as a RESIDUAL: every key-group pays
O(n_g · m_g) predicate evaluations even when the output is tiny (the
reference's T1 benchmark: 10M x 1M rows, 1e9 residual evaluations for a
1.5M-row result).  The sweep is output-sensitive instead:

1. number the points per group: ``pos = row_number() over (keys, v)``
   — one shuffle+sort of the point side;
2. union interval START/STOP endpoint events into the point stream and
   take a running count of points over ``(keys, v, tag)`` — the tag
   encodes open/closedness by ordering an endpoint before or after
   points of equal value;
3. per interval, the contained points are the CONTIGUOUS positions
   ``[count_at_start + 1, count_at_stop]`` — pair the two endpoint rows
   with one map-side-combinable groupBy, join the interval payload back
   by content hash, then ``explode(sequence(...))`` and equi-join
   positions back to points.

Plan-shape discipline (what keeps this fast): event rows are NARROW
(keys, value, tag, two hash longs) — the interval payload never rides
through the big sort; the pairing aggregate uses only primitive-buffer
``max`` functions, so it stays a HashAggregate (a ``first(struct)``
payload carry would silently degrade the whole pass to SortAggregate);
duplicate interval rows need no dedup/multiplicity machinery — they share
a content hash, the pairing aggregate collapses their identical events,
and the payload join-back re-attaches each duplicate row to the same
range.  Total cost: two sorts of (n + 2m) narrow rows, two equi-joins,
and work proportional to the OUTPUT — never to n·m.

Equal-value tie-breaking among points is safe by construction: a range
boundary never splits an equal-value run (strictness is resolved by the
tag ordering), so any position permutation within a run joins the same
row set.

When to choose which strategy: direct (broadcast/SMJ + residual) wins
when one side broadcasts or groups are small; sweep wins when key groups
are large and selectivity is high (n_g·m_g ≫ output).  At 100 TB the
crossover favors the sweep exactly where the direct join melts down.

This module implements the point-in-interval kernel; ``merge_intervals``
composes it directly when one side is degenerate (its start column IS its
stop column), and decomposes a general interval-overlap join into two
disjoint point-in-interval sweeps (by where the later start falls) plus an
output-sized residual filter.  Half-infinite endpoints are supported (a
``None`` endpoint column pins the range side to the group's first/last
position — this covers keyless single-inequality joins like polars'
``join_where`` benchmark).  The kernel produces the inner match set;
``merge_intervals`` composes non-inner ``how`` variants via its anti-join
path, exactly like the bucket strategy.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from .intervals import (_CHUNK, _chunk_lit, _chunk_of, _exclusive_prefix,
                        _keyless_cuts)

_POS = "__sweep_pos__"
_H1 = "__sweep_h1__"
_H2 = "__sweep_h2__"


def sweep_point_in_interval(
    intervals: DataFrame,
    points: DataFrame,
    ivl_keys: Sequence[str],
    pts_keys: Sequence[str],
    iv_start: str,
    iv_stop: str,
    pt_col: str,
    include_start: bool = True,
    include_stop: bool = True,
    interval_id: Optional[str] = None,
) -> DataFrame:
    """Inner join of ``points`` rows onto the ``intervals`` rows containing
    them (``iv_start <relop> pt <relop> iv_stop``, strictness from the
    include flags), keyed by the equi-columns ``ivl_keys`` = ``pts_keys``.

    Returns all interval columns + all point columns; point-side key
    columns whose NAME collides with an interval-side column are dropped
    (values are equal on an inner join).  ``interval_id`` may name an
    existing column on ``intervals`` that identifies an interval's
    CONTENT (equal-content rows may share it); when absent, a 128-bit
    content hash over all interval columns is used — the same 2^-128
    collision bound as the generated ids elsewhere in this package.

    Window layout: the numbering windows partition by the equi-keys.
    Keyless, they partition by a range chunk of the value, cut at
    approximate quantiles of the points' order-preserving double view
    (``util.order_view``) with per-chunk point counts as offsets -- two
    small jobs on the points frame.  Axis types without that view
    (strings, other orderables) run as one chunk, with no job and no
    offsets, in the type's own order.

    Caller contract (``merge_intervals`` enforces both with its validity
    filters): rows with null key or endpoint values must be filtered out
    first — the window partitioner groups null keys together, so null-key
    rows would match each other, unlike an equi-join; and a null
    ``interval_id`` would merge all null-id intervals into one range.
    """
    if iv_start is None and iv_stop is None:
        raise ValueError("at least one interval endpoint column is required "
                         "(both None would be a cross join)")
    for c in (_POS, _H1, _H2):
        if c in intervals.columns or c in points.columns:
            raise ValueError(f"column name {c!r} is reserved by the sweep strategy")
    ivl_keys = list(ivl_keys)
    pts_keys = list(pts_keys)

    # --- interval content identity (two primitive long columns, so every
    # downstream aggregate/join key stays UnsafeRow/HashAggregate-friendly)
    if interval_id is None:
        cols = [F.col(f"`{c}`") for c in intervals.columns]
    else:
        # the id PLUS the equi-keys and endpoints, not the id alone: two
        # DIFFERENT intervals sharing a user id would otherwise collapse
        # into one (keys, id) group whose range pairs max(start
        # positions) with max(stop positions) — a nonsense range that
        # silently drops matches (caught by the find_containing property
        # test: sweep returned -1 where direct matched).  The keys must
        # be in the hash too: the payload join below joins ivl to ranges
        # on the hash ALONE, so same-(id, endpoints) intervals in
        # different groups would cross-attach each other's position
        # ranges.  Hashing the full content keeps equal-content
        # duplicates collapsing (they re-expand at the payload join)
        # while distinct intervals stay distinct.
        cols = ([F.col(f"`{interval_id}`")]
                + [F.col(f"`{k}`") for k in ivl_keys]
                + [F.col(f"`{c}`") for c in (iv_start, iv_stop)
                   if c is not None])
    ivl = intervals.withColumns({
        _H1: F.xxhash64(F.lit(0), *cols),
        _H2: F.xxhash64(F.lit(1), *cols)})

    # --- endpoint/point event stream (NARROW rows — no payload) -------
    # tag order at equal v decides strictness: an INCLUSIVE start sorts
    # before points of the same value (they count as inside), an EXCLUSIVE
    # start after; mirrored for stops.  Points carry tag 1.
    start_tag = 0 if include_start else 2
    stop_tag = 2 if include_stop else 0
    kcols = [f"__k{i}__" for i in range(len(ivl_keys))]
    # built from RAW points, not the numbered ``pts``: the event stream
    # only needs the value column, and dragging the numbering window's
    # lineage into the union both bloats the plan and trips a Catalyst
    # union-constraint-rewrite bug (NoSuchElementException) on the keyless
    # chunked-cumsum lineage
    ev_pts = points.select(
        *[F.col(f"`{k}`").alias(a) for k, a in zip(pts_keys, kcols)],
        F.col(f"`{pt_col}`").alias("__v__"),
        F.lit(1).alias("__tag__"),
        F.lit(1).alias("__is_pt__"),
        F.lit(None).cast("int").alias("__is_start__"),
        F.lit(None).cast("long").alias(_H1),
        F.lit(None).cast("long").alias(_H2),
    )

    def _ivl_events(endpoint: str, tag: int, is_start: int):
        return ivl.select(
            *[F.col(f"`{k}`").alias(a) for k, a in zip(ivl_keys, kcols)],
            F.col(f"`{endpoint}`").alias("__v__"),
            F.lit(tag).alias("__tag__"),
            F.lit(0).alias("__is_pt__"),
            F.lit(is_start).alias("__is_start__"),
            F.col(_H1),
            F.col(_H2),
        )

    # a None endpoint is +/- infinity: no event row — the range side is
    # pinned to position 1 (start) or the group's point count (stop)
    events = ev_pts
    if iv_start is not None:
        events = events.unionByName(_ivl_events(iv_start, start_tag, 1))
    if iv_stop is not None:
        events = events.unionByName(_ivl_events(iv_stop, stop_tag, 0))

    # --- numbering: point positions and the events' running point count,
    # on one window path.  The windows partition by the equi-keys; keyless,
    # by a range chunk of the value (cuts from the points' order view, so
    # equal values share a chunk and the tie-permutation argument above
    # holds per chunk), and with more than one chunk each chunk's rows are
    # shifted by the point count of the chunks before it.  Both streams
    # reuse the same cuts and offsets, since the events' running weight
    # counts only points: the keyless path runs at most two small jobs on
    # the points frame (quantile cuts, per-chunk counts) and none on the
    # union plan, whose constraint rewrite dies with NoSuchElementException
    # in Spark 4.1 when an action runs on it.
    vv = F.col(f"`{pt_col}`")
    pparts, eparts, P = [F.col(f"`{k}`") for k in pts_keys], kcols, 1
    pts = points
    if not kcols:
        # one axis type for both streams: the union's value type
        vt = events.schema["__v__"].dataType
        cuts = _keyless_cuts(points, vv.cast(vt), vt)
        P = len(cuts) + 1
        pts = pts.withColumn(_CHUNK, _chunk_of(vv.cast(vt), vt, cuts))
        events = events.withColumn(
            _CHUNK, _chunk_of(F.col("__v__"), vt, cuts))
        pparts = eparts = [_CHUNK]
    pos = F.row_number().over(Window.partitionBy(*pparts).orderBy(vv))
    cnt = F.sum("__is_pt__").over(
        Window.partitionBy(*eparts).orderBy("__v__", "__tag__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    if P > 1:
        per = {r[_CHUNK]: r["__n__"] for r in
               pts.groupBy(_CHUNK).agg(F.count(F.lit(1)).alias("__n__"))
               .collect()}
        off = _chunk_lit(_exclusive_prefix(per, P), P).cast("long")
        pos, cnt = pos + off, cnt + off
    pts = pts.withColumn(_POS, pos)
    events = events.withColumn("__cnt__", cnt)

    # --- pair endpoints into position ranges (HashAggregate: primitive
    # grouping keys, primitive max buffers; duplicate interval rows
    # collapse here and re-expand at the payload join below) ------------
    aggs = []
    if iv_start is not None:
        aggs.append(F.max(F.when(F.col("__is_start__") == 1,
                                 F.col("__cnt__") + 1)).alias("__first__"))
    if iv_stop is not None:
        aggs.append(F.max(F.when(F.col("__is_start__") == 0,
                                 F.col("__cnt__"))).alias("__last__"))
    ranges = (events.filter(F.col(_H1).isNotNull())
              .groupBy(*kcols, _H1, _H2).agg(*aggs))
    if iv_start is None:
        ranges = ranges.withColumn("__first__", F.lit(1).cast("long"))
    if iv_stop is None:
        # half-infinite stop: the range runs to the group's last point
        totals = pts.groupBy(
            *[F.col(f"`{k}`").alias(a) for k, a in zip(pts_keys, kcols)]
        ).agg(F.max(_POS).cast("long").alias("__last__"))
        ranges = (ranges.join(totals, on=kcols) if kcols
                  else ranges.crossJoin(totals))
    ranges = ranges.filter(F.col("__last__") >= F.col("__first__"))

    # --- join the interval payload back, explode positions, fetch points
    pairs = (ivl.join(ranges.drop(*kcols), on=[_H1, _H2], how="inner")
             .withColumn(_POS, F.explode(F.sequence("__first__", "__last__")))
             .drop(_H1, _H2, "__first__", "__last__"))
    pa, pb = pairs.alias("__sweep_l__"), pts.alias("__sweep_r__")
    cond = [F.col(f"__sweep_l__.`{k}`") == F.col(f"__sweep_r__.`{pk}`")
            for k, pk in zip(ivl_keys, pts_keys)]
    cond.append(F.col(f"__sweep_l__.{_POS}") == F.col(f"__sweep_r__.{_POS}"))
    joined = pa.join(pb, on=cond, how="inner")
    # drop the position and any point-side key whose NAME collides with an
    # interval column (values are equal on this inner join)
    collide = {pk for pk in pts_keys if pk in intervals.columns}
    out_cols = (
        [F.col(f"__sweep_l__.`{c}`").alias(c) for c in intervals.columns] +
        [F.col(f"__sweep_r__.`{c}`").alias(c) for c in points.columns
         if c not in collide])
    return joined.select(*out_cols)

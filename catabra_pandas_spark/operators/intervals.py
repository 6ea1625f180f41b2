"""Interval set algebra: single-linkage clustering and coverage combination.

Reference: ``catabra_pandas/misc.py:125-257`` (``group_intervals``) and
``catabra_pandas/misc.py:260-436`` (``combine_intervals``).

Spark mapping (SURVEY.md §2.1 #6, #7): both are classic window-function
queries — gap-and-island via running max + cumulative sum, and an
endpoint-event sweep with a cumulative coverage counter.  One shuffle each on
the group keys; everything else is in-partition sorted streaming, which
scales linearly with partition size and parallelizes across entities.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql import types as T

from ..util import as_list, ensure_columns, order_view

GROUP_ID = "interval_group"
_CHUNK = "__chunk__"


def _orderable(c: Column, dt) -> Column:
    """Timestamps compare fine, but arithmetic with a numeric ``distance``
    needs a numeric domain — cast time-like columns to epoch seconds."""
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return c.cast("timestamp").cast("double")
    return c


def _default_chunks(df: DataFrame) -> int:
    par = df.sparkSession.sparkContext.defaultParallelism
    return max(8, min(128, 2 * par))


def _quantile_cuts(df: DataFrame, num: Column, n_chunks: int) -> list:
    """Approximate quantile cut points of ``num`` (deduplicated, sorted) —
    one aggregate job.  An empty list means chunking is pointless (empty
    input or a single distinct value)."""
    probs = [i / n_chunks for i in range(1, n_chunks)]
    cuts = (df.select(num.cast("double").alias("__q__"))
            .approxQuantile("__q__", probs, 1.0 / (4 * n_chunks)))
    return sorted(set(cuts))


def _chunk_from_cuts(num: Column, cuts: list) -> Column:
    """Chunk id (0..len(cuts)) of ``num`` under the given literal cut
    points: chunk order == value order, equal values share a chunk, null
    ``num`` lands in chunk 0 (where ascending null-first ordering puts it
    anyway).

    Implemented as a chain of plain comparisons (whole-stage codegen, P <=
    128 terms) rather than a higher-order ``filter(array, lambda)``: HOFs
    are interpreted per row, and a lambda in this position trips the same
    Catalyst union-constraint defect the sweep's keyless path works around
    (NoSuchElementException while rewriting constraints through a Union)."""
    v = num.cast("double")
    out: Column = F.lit(0)
    for c in cuts:
        out = out + F.when(v >= float(c), 1).otherwise(0)
    return out.cast("int")


def _range_chunks(df: DataFrame, num: Column, n_chunks: int):
    """Attach a range-chunk id (0..P-1) from approximate quantile cuts of
    ``num`` so chunk order == value order (equal values share a chunk; rows
    with null ``num`` land in chunk 0).  Returns ``(df_with_chunk, P)``;
    ``P == 1`` means chunking is pointless (empty input or a single
    distinct value).

    This is the scaffolding that turns a keyless global window into P
    parallel per-chunk windows: the quantile probe is one aggregate job and
    every cross-chunk dependency is later carried via P-element literal
    arrays computed from per-chunk summaries (the only driver-side data is
    O(P) scalars — never rows).
    """
    cuts = _quantile_cuts(df, num, n_chunks)
    if not cuts:
        return df.withColumn(_CHUNK, F.lit(0)), 1
    return df.withColumn(_CHUNK, _chunk_from_cuts(num, cuts)), len(cuts) + 1


def _chunk_lit_array(values, n: int) -> Column:
    """P-element literal array indexed by ``element_at(arr, chunk + 1)``."""
    return F.array(*[F.lit(values.get(i)) for i in range(n)])


def _keyless_cuts(df: DataFrame, c: Column, dt) -> list:
    """Chunk cut points of a keyless window over the axis ``c`` of type
    ``dt``: approximate quantiles of its order-preserving double view
    (``util.order_view``; one job), or ``[]`` -- one chunk, no job -- when
    the type has no such view (strings and other orderables).  Cutting on
    the view, not on a plain double cast, keeps chunk order equal to the
    axis' own order for every type."""
    view = order_view(c, dt)
    return [] if view is None else _quantile_cuts(df, view, _default_chunks(df))


def _chunk_of(c: Column, dt, cuts: list) -> Column:
    """Chunk id (0..len(cuts)) of the axis ``c`` of type ``dt`` under cuts
    from ``_keyless_cuts``; 0 when there is one chunk."""
    return _chunk_from_cuts(order_view(c, dt), cuts) if cuts else F.lit(0)


def _chunk_lit(values, n: int) -> Column:
    """The current row's entry of a per-chunk literal (carry or offset)."""
    return F.element_at(_chunk_lit_array(values, n), F.col(_CHUNK) + 1)


def _exclusive_prefix(per: dict, n: int) -> dict:
    """Chunk id (0..n-1) -> sum of ``per`` over the chunks before it
    (chunks absent from ``per`` count 0): the offset a chunked window adds
    to its per-chunk running values."""
    out, acc = {}, 0
    for i in range(n):
        out[i] = acc
        acc += per.get(i) or 0
    return out


def group_intervals(
    df: DataFrame,
    group_by: Union[str, Sequence[str], None] = None,
    point_col: Optional[str] = None,
    start_col: Optional[str] = None,
    stop_col: Optional[str] = None,
    distance=None,
    inclusive: bool = True,
    group_id_name: str = GROUP_ID,
) -> DataFrame:
    """Cluster intervals whose single-linkage distance is <= ``distance``
    (reflexive-transitive closure => equivalence classes), refining the
    ``group_by`` partition.  Reference: ``misc.py:125-257``.

    Returns ``df`` with an added long column ``group_id_name`` that numbers
    equivalence classes 0,1,... within each ``group_by`` partition in order
    of interval start (the reference returns a Series of global ids aligned
    to input order — identity-by-position has no Spark analogue, so the id is
    per-group; (group_by, group_id) is globally unique).

    Algorithm: sort by start within group; a new class starts whenever
    ``start - running_max(stop) > distance`` (strict, for ``inclusive=True``;
    ``>=`` otherwise — reference ``misc.py:230-249``); class id = cumulative
    sum of the new-class flag.  Timestamp endpoints are compared in epoch
    seconds so ``distance`` is a number of seconds.

    Scale note: with ``group_by`` this is one shuffle on the group keys and
    sorted in-partition streaming (parallel across groups).  WITHOUT
    ``group_by`` the sequential single-linkage dependency is distributed as
    a two-pass chunked merge: range-chunk by start (approximate-quantile
    cuts), run the island window per chunk IN PARALLEL, then stitch chunks
    with two O(P)-scalar driver summaries — the carried-in prefix max of
    stops acts as one virtual interval, so a local island boundary survives
    globally iff it also clears the carry (``start - prefix_max >
    distance``), and island ids are shifted by per-chunk island counts.
    Costs three extra small aggregate jobs; replaces the single-task global
    window that would bottleneck a cluster-scale keyless call.
    """
    group_by = as_list(group_by)
    if point_col is not None:
        if start_col is not None or stop_col is not None:
            raise ValueError("point_col is mutually exclusive with start_col/stop_col")
        start_col = stop_col = point_col
    if start_col is None or stop_col is None:
        raise ValueError("either point_col or both start_col and stop_col are required")
    ensure_columns(df, group_by + [start_col, stop_col])
    if distance is None:
        distance = 0

    schema = {f.name: f.dataType for f in df.schema.fields}
    start = _orderable(F.col(start_col), schema[start_col])
    stop = _orderable(F.col(stop_col), schema[stop_col])

    def flag_from(run_max_prev: Column) -> Column:
        gap = start - run_max_prev
        if inclusive:
            return run_max_prev.isNull() | (gap > F.lit(distance))
        return run_max_prev.isNull() | (gap >= F.lit(distance))

    if group_by:
        w = Window.partitionBy(*group_by).orderBy(start.asc(), stop.asc())
        new_flag = flag_from(
            F.max(stop).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        gid = F.sum(new_flag.cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)) - F.lit(1)
        return df.withColumn(group_id_name, gid)

    # ---- keyless: distributed two-pass chunked merge ---------------------
    chunked, P = _range_chunks(df, start, _default_chunks(df))
    w = Window.partitionBy(_CHUNK).orderBy(start.asc(), stop.asc())
    if P == 1:
        new_flag = flag_from(
            F.max(stop).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        gid = F.sum(new_flag.cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)) - F.lit(1)
        return chunked.withColumn(group_id_name, gid).drop(_CHUNK)

    # chunk summaries -> exclusive prefix max of stops (the carry)
    mx = {r[_CHUNK]: r["mx"] for r in
          chunked.groupBy(_CHUNK).agg(F.max(stop).alias("mx")).collect()}
    carry, run = {}, None
    for i in range(P):
        carry[i] = run
        m = mx.get(i)
        if m is not None:
            run = m if run is None else max(run, m)
    local_flag = flag_from(
        F.max(stop).over(w.rowsBetween(Window.unboundedPreceding, -1)))
    if all(v is None for v in carry.values()):  # all stops null: no carry
        flagged = chunked.withColumn("__flag__", local_flag)
    else:
        carry_col = F.element_at(_chunk_lit_array(carry, P), F.col(_CHUNK) + 1)
        carry_gap = start - carry_col
        clears_carry = carry_col.isNull() | (
            (carry_gap > F.lit(distance)) if inclusive
            else (carry_gap >= F.lit(distance)))
        flagged = chunked.withColumn("__flag__", local_flag & clears_carry)

    # per-chunk island counts -> exclusive prefix sums (the id offsets)
    cnts = {r[_CHUNK]: r["n"] for r in
            flagged.groupBy(_CHUNK).agg(
                F.sum(F.col("__flag__").cast("long")).alias("n")).collect()}
    offs, acc = {}, 0
    for i in range(P):
        offs[i] = acc
        acc += int(cnts.get(i) or 0)
    off_col = F.element_at(_chunk_lit_array(offs, P), F.col(_CHUNK) + 1)
    gid = off_col + F.sum(F.col("__flag__").cast("long")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)) - F.lit(1)
    # a chunk whose first rows continue the previous chunk's island has no
    # new-island flag yet; cumsum 0 + offset - 1 = previous chunk's last id
    return flagged.withColumn(group_id_name, gid).drop(_CHUNK, "__flag__")


def combine_intervals(
    df: DataFrame,
    start_col: str = "start",
    stop_col: Optional[str] = "stop",
    length_col: Optional[str] = None,
    attr_cols: Sequence[str] = (),
    group_by: Union[str, Sequence[str], None] = None,
    n_min: int = 1,
    n_max: Optional[int] = None,
) -> DataFrame:
    """Emit maximal intervals where at least ``n_min`` (and at most
    ``n_max``) of the input intervals overlap.  ``n_min=1`` => union,
    ``n_min=k`` => k-fold intersection, ``n_min=n_max=0`` => gaps.
    Intervals sharing the same ``attr_cols`` values count as ONE interval
    (their overlaps are pre-merged).  Reference: ``misc.py:260-436``.

    Endpoints are treated as closed (touching intervals [1,2],[2,3] combine),
    matching the reference's event ordering (starts before stops at equal t,
    ``misc.py:377-401``).

    Algorithm (endpoint-event sweep, fully distributed): explode each
    interval to (+1 at start, -1 at stop) events; running coverage =
    cumulative sum ordered by (t, starts-first); adjacent event pairs define
    constant-coverage segments; in-band segments ([n_min, n_max]) are
    coalesced into maximal runs with a second cumulative-sum island pass.
    Two window passes over one shuffle on the group keys.  The keyless
    (no ``group_by``) sweep is DISTRIBUTED too: events are range-chunked,
    each chunk sweeps locally, and only O(P) scalar carries (per-chunk
    event-count prefix sums and boundary coverage) cross chunks — see
    ``_coverage_bands``.  Keyless chunk rule: chunks are cut at
    approximate quantiles of the endpoints' order-preserving double view
    (``util.order_view``: numeric, date/timestamp and day-time-interval
    types; three small jobs); any other type (strings) runs as one chunk
    with no job, so every type combines in its own order, exactly as
    with a constant ``group_by``.
    """
    group_by = as_list(group_by)
    attr_cols = as_list(attr_cols)
    if (stop_col is None) == (length_col is None):
        raise ValueError("precisely one of stop_col and length_col must be given")
    out_stop = stop_col if stop_col is not None else "__stop__"
    if length_col is not None:
        df = df.withColumn(out_stop, F.col(start_col) + F.col(length_col))
    ensure_columns(df, group_by + attr_cols + [start_col, out_stop])

    ivl = df.select(*group_by, *attr_cols, start_col, out_stop).filter(
        F.col(start_col).isNotNull() & F.col(out_stop).isNotNull()
        & (F.col(start_col) <= F.col(out_stop))
    )

    if attr_cols:
        # overlaps of equal-attribute intervals count once: union per
        # (group, attrs) first, then drop the attrs for the coverage count.
        ivl = _coverage_bands(ivl, start_col, out_stop, group_by + attr_cols, 1, None)
        ivl = ivl.select(*group_by, start_col, out_stop)

    out = _coverage_bands(ivl, start_col, out_stop, group_by, n_min, n_max)
    if length_col is not None:
        out = out.withColumn(length_col, F.col(out_stop) - F.col(start_col)).drop(out_stop)
    return out


def _coverage_bands(
    ivl: DataFrame,
    start_col: str,
    stop_col: str,
    group_by: Sequence[str],
    n_min: int,
    n_max: Optional[int],
) -> DataFrame:
    """Maximal ``[n_min, n_max]``-coverage intervals of ``ivl`` per
    ``group_by`` partition.  One window path: the windows partition by the
    group keys, or, keyless, by a range chunk of the event time (see
    ``_keyless_cuts``).  With more than one chunk, three cross-chunk
    dependencies are carried by O(P)-scalar summaries: (1) running
    coverage -> exclusive prefix sum of chunk deltas, (2) the segment
    spanning a chunk boundary -> the next non-empty chunk's first event
    time as the lead() fallback, (3) island continuation -> the previous
    chunk's final coverage decides the boundary prev-in-band value, and
    per-chunk island counts shift the island ids (a continuing run then
    reproduces the previous chunk's island id exactly)."""
    group_by = list(group_by)
    starts = ivl.select(*group_by, F.col(start_col).alias("__t__"),
                        F.lit(1).alias("__delta__"), F.lit(0).alias("__tag__"))
    stops = ivl.select(*group_by, F.col(stop_col).alias("__t__"),
                       F.lit(-1).alias("__delta__"), F.lit(1).alias("__tag__"))
    events = starts.unionByName(stops)

    def band(c):
        b = c >= n_min
        return b and c <= n_max if n_max is not None else b

    P = 1
    part = group_by
    if not group_by:
        t, tt = F.col("__t__"), events.schema["__t__"].dataType
        cuts = _keyless_cuts(events, t, tt)
        P = len(cuts) + 1
        events = events.withColumn(_CHUNK, _chunk_of(t, tt, cuts))
        part = [_CHUNK]
    w = Window.partitionBy(*part).orderBy(
        F.col("__t__").asc(), F.col("__tag__").asc())
    cov = F.sum("__delta__").over(w.rowsBetween(Window.unboundedPreceding, 0))
    seg_stop = F.lead("__t__", 1).over(w)
    prev_default = F.lit(False)
    if P > 1:
        summ = events.groupBy(_CHUNK).agg(
            F.sum("__delta__").alias("s"), F.min("__t__").alias("t0")).collect()
        sums = {r[_CHUNK]: int(r["s"]) for r in summ}
        firsts = {r[_CHUNK]: r["t0"] for r in summ}
        prefix = _exclusive_prefix(sums, P)
        nxt, nt = {}, None
        for i in reversed(range(P)):
            nxt[i] = nt
            if i in firsts:
                nt = firsts[i]
        first_ne = min(firsts) if firsts else 0
        # boundary prev-in: the nearest previous positive segment is the
        # previous non-empty chunk's last event, whose coverage is this
        # chunk's prefix sum (chunks in between are empty)
        prevb = {i: (i > first_ne and band(prefix[i])) for i in range(P)}
        cov = _chunk_lit(prefix, P) + cov
        seg_stop = F.coalesce(seg_stop, _chunk_lit(nxt, P))
        prev_default = _chunk_lit(prevb, P)

    # zero-length segments are ignored entirely: never emitted and never
    # splitting an in-band run (reference behavior, e.g. an isolated point
    # inside a gap does not split the gap — misc.py:377-427)
    seg = events.withColumns({"__cov__": cov, "__seg_stop__": seg_stop}) \
        .filter(F.col("__seg_stop__").isNotNull() & (F.col("__seg_stop__") > F.col("__t__")))

    in_band = (F.col("__cov__") >= F.lit(n_min))
    if n_max is not None:
        in_band = in_band & (F.col("__cov__") <= F.lit(n_max))
    seg = seg.withColumn("__in__", in_band)

    # coalesce adjacent in-band segments into maximal intervals
    prev_in = F.coalesce(F.lag("__in__", 1).over(w), prev_default)
    flag = (F.col("__in__") & ~prev_in).cast("long")
    island_off = F.lit(0).cast("long")
    if P > 1:
        seg = seg.withColumn("__flag__", flag)
        cnts = {r[_CHUNK]: int(r["n"] or 0) for r in
                seg.groupBy(_CHUNK).agg(F.sum("__flag__").alias("n")).collect()}
        island_off = _chunk_lit(_exclusive_prefix(cnts, P), P)
        flag = F.col("__flag__")
    island = island_off + F.sum(flag).over(
        w.rowsBetween(Window.unboundedPreceding, 0))
    seg = seg.withColumn("__island__", island).filter(F.col("__in__"))
    return seg.groupBy(*group_by, "__island__").agg(
        F.min("__t__").alias(start_col), F.max("__seg_stop__").alias(stop_col)
    ).drop("__island__")

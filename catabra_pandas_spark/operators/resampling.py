"""EAV / interval resampling: ``resample_eav``, ``resample_interval``,
``make_windows``.

Reference semantics: ``catabra_pandas/resampling.py`` — ``resample_eav``
(25-450, execution 1086-1406), ``resample_interval`` (453-788, execution
1409-1555, factor math 2063-2124), ``make_windows`` (791-1083).

Spark design (SURVEY.md §2.1 #3-#5, §3 "Spark lifecycle replacement"): the
reference's per-entity strategy selector, layered-window sweep, Dask
dispatch, and MAX_ROWS chunking all collapse into ONE declarative plan:

    observations JOIN windows ON entity AND time-in-window
    -> groupBy(window_id) with conditional aggregates
    -> left-join back onto windows

The join is ``merge_intervals``' (one interval-join path for the engine)
unless the windows form a regular grid, where window-index arithmetic
turns it into an equi-join on (entity, index).  All
standard aggregations (mean/min/max/median/std/var/sum/prod/skew/mad/sem/
size/count/nunique/pXX) run in a SINGLE shuffle as conditional JVM-side
aggregates — one pass regardless of how many (attribute, function) pairs are
requested; mad joins that same pass after one window pre-pass that attaches
the per-(window, attribute) mean.  Rank aggregations (rXX/tXX) and
mode/mode_count need one extra
window/groupBy pass each over the already-joined pairs; custom Python
callables run via Arrow-batched ``applyInPandas`` (the reference's callable
contract at ``resampling.py:128-161`` IS the applyInPandas contract).

Windows are a flat-column DataFrame — ``{time_col}_start``/``{time_col}_stop``
replace the reference's 2-level column MultiIndex (``resampling.py:54-57``);
a missing endpoint column means -inf/+inf (``resampling.py:58-59``); a null
endpoint value invalidates the window (it matches no observations but still
appears in the output).

Determinism: windows are identified by their CONTENT — (entity, start, stop)
— never by a generated ``monotonically_increasing_id`` (whose values depend
on partition layout and row order, so the two plan branches that join
aggregates back onto the windows could silently disagree under task retries
or AQE re-planning).  The join projection is ``distinct()``-ed on the content
key, aggregates are grouped by it, and results are left-joined back onto the
full windows frame; duplicate windows simply receive the same (correct)
aggregate row.
"""

from __future__ import annotations

import re
from typing import Callable, Mapping, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from .merging import merge_intervals
from .modes import grouped_mode
from ..util import as_list, ensure_columns, exact_numeric_double

# internal content-key column names: entity / window start / window stop
_KE, _KS, _KP = "__w_ent__", "__w_start__", "__w_stop__"

_STANDARD_AGGS = {
    "mean", "min", "max", "median", "std", "var", "sum", "prod", "skew",
    "mad", "sem", "size", "count", "nunique",
}
_RANK_RE = re.compile(r"^([rt])(-?\d+)$")
_QUANTILE_RE = re.compile(r"^p(\d{1,2}(?:\.\d+)?)$")


def _is_time_like(dt) -> bool:
    return isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType))


_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _grid_long(c: Column, dt) -> Optional[Column]:
    """Exact long representation for grid arithmetic (timestamps -> epoch
    micros, day-time intervals -> total micros, integrals -> long); None
    for types where floor-div/modulo equality cannot be computed exactly
    (float/decimal/string)."""
    if _is_time_like(dt):
        return F.unix_micros(c.cast("timestamp"))
    if isinstance(dt, T.DayTimeIntervalType):
        from ..util import interval_total_micros

        return interval_total_micros(c)
    if isinstance(dt, _INTEGRAL):
        return c.cast("long")
    return None


def _grid_family(dt) -> Optional[str]:
    """Unit family of ``_grid_long``'s output: a detected grid is only
    valid when the observation axis and the window endpoints coerce to
    the SAME unit (epoch micros / interval micros / raw integers) — a
    mixed pair would compute window indexes in different units and
    silently mis-assign (the direct join is saved by Spark's comparison
    type coercion, but grid arithmetic bypasses the comparison)."""
    if _is_time_like(dt):
        return "time"
    if isinstance(dt, T.DayTimeIntervalType):
        return "interval"
    if isinstance(dt, _INTEGRAL):
        return "int"
    return None


def _detect_regular_grid(wjoin: DataFrame) -> Optional[tuple[int, int]]:
    """Return ``(origin, duration)`` (long units) if the windows form an
    aligned constant-duration grid — every non-null window has the same
    ``stop - start`` and every start is ``origin + k * duration`` — else
    None.  The check is exact (long arithmetic) and costs one small
    aggregate job over the windows frame (map-side partial aggregation;
    the windows side is orders of magnitude smaller than the observations
    side, which is what the fast path avoids shuffling through a theta
    join).  Null-endpoint windows don't disqualify the grid: their null
    index simply matches no observation in the equi-join, which is exactly
    the reference's invalid-window semantics (``resampling.py:58-59``).

    Reference parity: this is the regular-window detection of
    ``catabra_pandas/resampling.py:1738-1763``, re-expressed as a grid test
    so window assignment becomes arithmetic instead of an interval join.

    Single-pass alignment trick: given all durations equal ``d``, the
    starts lie on one grid iff ``pmod(start, stop - start)`` takes a single
    value — each row uses its OWN duration as the modulus, so no prior pass
    is needed to learn ``d``.
    """
    sch = {f.name: f.dataType for f in wjoin.schema.fields}
    s = _grid_long(F.col(_KS), sch[_KS])
    p = _grid_long(F.col(_KP), sch[_KP])
    if s is None or p is None:
        return None
    stats = wjoin.select(s.alias("s"), (p - s).alias("d")).agg(
        F.count_distinct(F.col("d")).alias("nd"),
        F.min("d").alias("d"),
        F.min("s").alias("o"),
        F.count_distinct(F.pmod(F.col("s"), F.col("d"))).alias("nres"),
    ).first()
    if stats.nd != 1 or stats.d is None or stats.d <= 0 or stats.nres != 1:
        return None
    return int(stats.o), int(stats.d)


def _window_keys(windows: DataFrame, entity_col: str, ws: str, wp: str,
                 assume_unique_windows: bool, bucket_width: Optional[float],
                 join_strategy: str) -> tuple[DataFrame, DataFrame, list[str]]:
    """Check a resample call's window options and key its windows by
    content (module docstring "Determinism").  Returns ``(win, wjoin,
    key_cols)``: the windows with the ``_KE``/``_KS``/``_KP`` key columns
    attached, the key projection the join reads (``distinct()`` so
    duplicate windows do not double-count observations, unless
    ``assume_unique_windows``), and the key column names.  A missing
    endpoint column ``ws``/``wp`` is infinite and gets no key column."""
    if join_strategy not in ("auto", "direct", "sweep"):
        raise ValueError(f"join_strategy must be auto/direct/sweep, got {join_strategy!r}")
    if join_strategy == "sweep" and bucket_width is not None:
        raise ValueError("join_strategy='sweep' and bucket_width are mutually exclusive")
    ensure_columns(windows, [entity_col])
    key_map = {_KE: F.col(entity_col)}
    if ws in windows.columns:
        key_map[_KS] = F.col(ws)
    if wp in windows.columns:
        key_map[_KP] = F.col(wp)
    if len(key_map) == 1:
        raise ValueError(f"windows needs at least one of {ws!r}, {wp!r}")
    if bucket_width is not None and len(key_map) < 3:
        raise ValueError("bucket_width requires both window endpoints")
    win = windows.withColumns(key_map)
    wjoin = win.select(*key_map)
    if not assume_unique_windows:
        wjoin = wjoin.distinct()
    return win, wjoin, list(key_map)


def resample_eav(
    df: DataFrame,
    windows: Union[DataFrame, "make_windows", Callable[[DataFrame], DataFrame]],
    agg: Mapping[str, Union[str, Sequence[str], Callable]],
    entity_col: str = "entity",
    time_col: str = "timestamp",
    attribute_col: str = "attribute",
    value_col: str = "value",
    include_start: bool = True,
    include_stop: bool = False,
    window_start_col: Optional[str] = None,
    window_stop_col: Optional[str] = None,
    tiebreak_col: Optional[str] = None,
    custom_agg_schemas: Optional[Mapping[str, str]] = None,
    optimize: str = "time",
    assume_unique_windows: bool = False,
    regular: Union[bool, str] = "auto",
    bucket_width: Optional[float] = None,
    approx_percentiles: Optional[int] = None,
    join_strategy: str = "auto",
) -> DataFrame:
    """Resample EAV observations into arbitrary (possibly overlapping,
    possibly half-infinite) windows with per-attribute aggregation lists.

    ``agg`` maps attribute -> aggregation(s); each aggregation is one of
    mean, min, max, median, std, var, sum, prod, skew, mad, sem, size,
    count, nunique, mode, mode_count, ``pXX`` (exact percentile, pandas
    linear interpolation), ``rXX``/``tXX`` (value/time of the XX-th
    observation in time order, negative = from the end), or a Python callable
    ``pandas.Series -> scalar`` (reference ``resampling.py:74-95,128-161``).

    Output: ``windows`` plus one column per (attribute, aggregation), named
    ``{attribute}_{agg}`` (flattening the reference's column MultiIndex).
    ``size``/``count`` are 0 for windows with no observations; other
    aggregations are null (reference ``resampling.py:74-87``).

    ``tiebreak_col``: column in ``df`` used to break ties between equal
    timestamps for rank aggregations (the reference uses row position, which
    Spark does not have; without it ties are broken arbitrarily).
    Custom callables' output types come from ``custom_agg_schemas``
    ({out_col_name: DDL type}) when given, else from probing the callable
    with a 3-row dummy Series on the driver (reference
    ``resampling.py:256-272``).
    ``optimize`` is accepted for API compatibility and ignored (AQE replaces
    the reference's time/memory strategy knob — SURVEY.md §4).
    ``include_start``/``include_stop`` default to True/False exactly as in
    the reference (``resampling.py:109-112``).
    ``assume_unique_windows=True`` skips the window-key ``distinct()``
    (one exchange) — ONLY safe when no two windows share
    (entity, start, stop); duplicates would then double-count
    observations.

    ``regular="auto"`` (default) probes the windows frame for an aligned
    constant-duration grid (the reference's regular-window fast path,
    ``resampling.py:1738-1763``); if found, window assignment becomes
    arithmetic and the interval theta-join a plain (entity, window_index)
    equi-join — the dominant shape at scale (tumbling windows).  The probe
    costs one small aggregate job over the windows frame at call time;
    pass ``regular=False`` to skip it (e.g. when windows are
    known-irregular or the windows plan is expensive to evaluate twice),
    or ``regular=(origin, duration[, stride])`` (long units: epoch micros
    for time-like endpoints, total micros for day-time-interval axes, raw
    values for integral ones) to take the grid leg with NO probe when the
    grid is known a priori — windows then start at ``origin + k *
    stride`` (``stride`` defaults to ``duration``: tumbling; a smaller
    stride gives SLIDING windows).  One leg serves every grid: each
    observation enumerates the indices of the closed windows holding it
    (one, or ~duration/stride when sliding, one more on a window edge),
    and the include flags run as the exact endpoint predicate after the
    equi-join.  Results are wrong if a declared grid does not match the
    windows: off-grid windows miss observations.

    ``approx_percentiles``: when set, ``median``/``pXX`` use Spark's
    ``percentile_approx`` sketch with this accuracy parameter (e.g. 10000;
    relative rank error <= 1/accuracy) instead of the exact percentile.
    The exact form matches pandas interpolation bit-for-bit but is a
    TypedImperativeAggregate that buffers every value of a group — at
    extreme per-window observation counts the sketch bounds memory.

    Irregular windows are paired with observations by ONE
    ``merge_intervals`` inner join (observations are points on the left,
    windows the intervals on the right), so its strategies and their
    rules apply: ``bucket_width`` selects ``strategy="bucket"`` with that
    width (needs both window endpoints), and ``join_strategy``
    "auto"/"direct"/"sweep" is passed on as ``strategy``; ``"sweep"`` and
    ``bucket_width`` are mutually exclusive.  A detected or declared
    regular grid wins over both (strictly cheaper).  On a
    DayTimeIntervalType time axis bucket ids are in seconds
    (``util.exact_numeric_double``), so pick ``bucket_width`` in seconds.

    **Skewed entities** (one patient/session owning a large share of the
    observations): measured at 10M observations with one entity holding
    50% (scripts/scale_smoke.py ``skew`` tier), direct and sweep agree
    within summation tolerance, and default AQE leaves the hot partition
    alone on purpose — splitting it would break the join→agg
    co-partitioning (measured imbalance a benign 2.3x max/median).  If a
    workload measures above ~10x max/median task skew, enable::

        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")

    which yields ``SortMergeJoin(skew=true)`` (median task 2143 -> 1507 ms
    on the certificate workload) at the cost of re-shuffling before the
    aggregation; no built-in salting knob, by design (AQE's runtime split
    is the same mechanism without a manual fan-out to mis-tune).
    """
    if callable(windows) and not isinstance(windows, DataFrame):
        windows = windows(df, entity_col=entity_col, time_col=time_col)
    ensure_columns(df, [entity_col, time_col, attribute_col, value_col])
    win, wjoin, key_cols = _window_keys(
        windows, entity_col, window_start_col or f"{time_col}_start",
        window_stop_col or f"{time_col}_stop", assume_unique_windows,
        bucket_width, join_strategy)

    # --- normalize agg spec -------------------------------------------
    spec: dict[str, list] = {a: as_list(fns) for a, fns in agg.items()}
    attrs = list(spec)

    # bool/int values promote to a float type for aggregation (reference
    # _get_default_value, resampling.py:1558-1570: bool -> float32,
    # int -> float64 — aggregates must be able to represent "no data" as
    # NaN/null; Spark's numeric aggregates also reject BooleanType outright)
    if isinstance(df.schema[value_col].dataType,
                  (T.BooleanType, T.ByteType, T.ShortType,
                   T.IntegerType, T.LongType)):
        df = df.withColumn(value_col, F.col(value_col).cast("double"))

    # prune observations: null times ignored (resampling.py:47-48), only
    # requested attributes (resampling.py:281-285)
    obs_cols = [entity_col, time_col, attribute_col, value_col]
    if tiebreak_col:
        obs_cols.append(tiebreak_col)
    obs = (
        df.select(*obs_cols)
        .filter(F.col(time_col).isNotNull() & F.col(attribute_col).isin(attrs))
    )

    # --- the join: entity + time-in-window ----------------------------
    grid = None
    obs_long = _grid_long(F.col(time_col), df.schema[time_col].dataType)
    wsch = {f.name: f.dataType for f in wjoin.schema.fields}
    if isinstance(regular, tuple):
        if len(key_cols) < 3:
            raise ValueError("regular=(origin, duration) needs both window endpoints")
        if obs_long is None:
            raise ValueError(
                f"regular=(origin, duration) needs an integral, time-like, "
                f"or day-time-interval {time_col!r}, "
                f"got {df.schema[time_col].dataType.simpleString()}")
        grid = (int(regular[0]), int(regular[1]),
                int(regular[2]) if len(regular) > 2 else int(regular[1]))
        if grid[2] <= 0 or grid[2] > grid[1]:
            raise ValueError("stride must be in (0, duration]")
    elif regular in ("auto", True) and len(key_cols) == 3:
        fam = _grid_family(df.schema[time_col].dataType)
        same_scale = (fam is not None
                      and _grid_family(wsch[_KS]) == fam
                      and _grid_family(wsch[_KP]) == fam)
        if obs_long is not None and same_scale:
            found = _detect_regular_grid(wjoin)
            if found is not None:
                grid = (*found, found[1])  # tumbling: stride == duration

    if grid is not None:
        # one regular-grid leg (tumbling is stride == duration): window k
        # covers [origin + k*stride, origin + k*stride + duration], so the
        # closed windows holding an observation at offset x are indices
        # ceil((x - duration) / stride) .. floor(x / stride) -- a single
        # index unless x sits on a window edge.  Equi-join on (entity,
        # index), then the include flags run as the exact residual filter.
        origin, dur, stride = grid
        IDX = "__w_idx__"

        def fdiv(x, b):
            # floor(x / b): x - pmod(x, b) is an exact multiple of b, so
            # the double division is an exact integer (|x| < 2^53)
            return ((x - F.pmod(x, F.lit(b))) / F.lit(b)).cast("long")

        wfast = wjoin.withColumn(
            IDX, fdiv(_grid_long(F.col(_KS), wsch[_KS]) - F.lit(origin), stride))
        x = obs_long - F.lit(origin)
        ofast = obs.withColumn(IDX, F.explode(F.sequence(
            -fdiv(F.lit(dur) - x, stride), fdiv(x, stride))))
        joined = ofast.join(
            wfast, on=[ofast[entity_col] == wfast[_KE],
                       ofast[IDX] == wfast[IDX]],
            how="inner").drop(ofast[IDX]).drop(wfast[IDX])
        resid = ((F.col(time_col) >= F.col(_KS)) if include_start
                 else (F.col(time_col) > F.col(_KS)))
        resid = resid & ((F.col(time_col) <= F.col(_KP)) if include_stop
                         else (F.col(time_col) < F.col(_KP)))
        pairs = joined.filter(resid)
    else:
        # irregular windows: merge_intervals' interval join, observations
        # as points on the left, windows (intervals) on the right
        pairs = merge_intervals(
            obs, wjoin, left_on=[entity_col], right_on=[_KE], how="inner",
            left_start=time_col, left_stop=time_col,
            right_start=_KS if _KS in key_cols else None,
            right_stop=_KP if _KP in key_cols else None,
            include_right_start=include_start, include_right_stop=include_stop,
            strategy="bucket" if bucket_width is not None else join_strategy,
            bucket_width=bucket_width)

    attr = F.col(attribute_col)
    val = F.col(value_col)
    tim = F.col(time_col)

    # --- bucket the aggregations (reference resampling.py:189-279) -----
    std_exprs: list[Column] = []
    mad_reqs: list[str] = []           # attributes needing mad
    mode_reqs: dict[str, list[str]] = {}  # attr -> [mode, mode_count]
    rank_reqs: list[tuple[str, str, int, str]] = []  # (attr, kind r/t, rank, out_name)
    custom_reqs: list[tuple[str, Callable, str]] = []  # (attr, fn, out_name)

    for a, fns in spec.items():
        v = F.when(attr == F.lit(a), val)
        t_ = F.when(attr == F.lit(a), tim)
        here = F.when(attr == F.lit(a), F.lit(1))
        for fn in fns:
            if callable(fn):
                raw = getattr(fn, "__name__", "custom")
                safe = re.sub(r"\W+", "_", raw).strip("_") or "custom"
                custom_reqs.append((a, fn, f"{a}_{safe}"))
                continue
            name = f"{a}_{fn}"
            mq = _QUANTILE_RE.match(fn)
            mr = _RANK_RE.match(fn)
            if fn == "mean":
                std_exprs.append(F.avg(v).alias(name))
            elif fn == "min":
                std_exprs.append(F.min(v).alias(name))
            elif fn == "max":
                std_exprs.append(F.max(v).alias(name))
            elif fn == "sum":
                std_exprs.append(F.sum(v).alias(name))
            elif fn == "prod":
                std_exprs.append(F.product(v).alias(name))
            elif fn == "median":
                std_exprs.append(
                    (F.percentile_approx(v, F.lit(0.5), F.lit(approx_percentiles))
                     if approx_percentiles else
                     F.percentile(v, F.lit(0.5))).alias(name))
            elif mq:
                q = F.lit(float(mq.group(1)) / 100.0)
                std_exprs.append(
                    (F.percentile_approx(v, q, F.lit(approx_percentiles))
                     if approx_percentiles else F.percentile(v, q)).alias(name))
            elif fn == "std":
                std_exprs.append(F.stddev_samp(v).alias(name))
            elif fn == "var":
                std_exprs.append(F.var_samp(v).alias(name))
            elif fn == "sem":
                std_exprs.append((F.stddev_samp(v) / F.sqrt(F.count(v))).alias(name))
            elif fn == "skew":
                # pandas-adjusted (bias-corrected) skewness G1, null for n<3 —
                # matches pandas .skew() and DuckDB skewness()
                n = F.count(v).cast("double")
                m1 = F.avg(v)
                m2 = F.avg(v * v)
                m3 = F.avg(v * v * v)
                mu2 = m2 - m1 * m1
                mu3 = m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1
                g1 = mu3 / F.pow(mu2, 1.5)
                adj = F.sqrt(n * (n - 1)) / (n - 2)
                std_exprs.append(F.when(n >= 3, adj * g1).alias(name))
            elif fn == "size":
                std_exprs.append(F.count(here).alias(name))
            elif fn == "count":
                std_exprs.append(F.count(v).alias(name))
            elif fn == "nunique":
                std_exprs.append(F.count_distinct(v).alias(name))
            elif fn == "mad":
                mad_reqs.append(a)
            elif fn in ("mode", "mode_count"):
                mode_reqs.setdefault(a, []).append(fn)
            elif mr:
                rank_reqs.append((a, mr.group(1), int(mr.group(2)), name))
            else:
                raise ValueError(f"unknown aggregation {fn!r} for attribute {a!r}")

    # --- mad: exact mean-absolute-deviation needs the per-(window, attr)
    # mean BEFORE the aggregate — computed as one window pass over pairs
    # (shuffle on (window, attr)), after which the mad becomes an ordinary
    # conditional aggregate in the SAME single groupBy as everything else.
    # (The previous two-groupBy + join + pivot formulation cost 4 extra
    # exchanges; the window partitioning also pre-clusters the rank pass.)
    if mad_reqs:
        wma = Window.partitionBy(*key_cols, attribute_col)
        mean_wa = F.avg(val).over(wma)
        pairs = pairs.withColumn("__mean_wa__", mean_wa)
        for a in mad_reqs:
            dev = F.when(attr == F.lit(a), F.abs(val - F.col("__mean_wa__")))
            std_exprs.append(F.avg(dev).alias(f"{a}_mad"))

    out = win
    if std_exprs:
        out = out.join(pairs.groupBy(*key_cols).agg(*std_exprs), on=key_cols, how="left")

    # --- mode / mode_count: operators.grouped_mode over the pairs (same
    # tie-break, reference misc.py:930-933); windows without a non-null
    # value get a null mode and, through the coalesce below, count 0
    for a, wanted in mode_reqs.items():
        best = grouped_mode(pairs.filter(attr == F.lit(a)), key_cols, value_col,
                            mode_name=f"{a}_mode", count_name=f"{a}_mode_count")
        out = out.join(best.select(*key_cols, *[f"{a}_{w}" for w in wanted]),
                       on=key_cols, how="left")
        if "mode_count" in wanted:
            out = out.withColumn(f"{a}_mode_count", F.coalesce(F.col(f"{a}_mode_count"), F.lit(0)))

    # --- rank aggregations rXX / tXX ------------------------------------
    # ONE window pass over (window, attribute) + ONE conditional groupBy +
    # ONE join back, regardless of how many (attribute, rank) pairs are
    # requested — a per-rank filter+join costs a shuffle each and dominated
    # the profile at sf0.1 before this rewrite.
    if rank_reqs:
        rank_attrs = sorted({a for a, _, _, _ in rank_reqs})
        sub = pairs.filter(attr.isin(rank_attrs))
        tb = [F.col(tiebreak_col)] if tiebreak_col else []
        wspec = Window.partitionBy(*key_cols, attribute_col)
        w_asc = wspec.orderBy(tim.asc(), *[c.asc() for c in tb])
        w_desc = wspec.orderBy(tim.desc(), *[c.desc() for c in tb])
        cols = {}
        if any(r >= 0 for _, _, r, _ in rank_reqs):
            cols["__rn_a__"] = F.row_number().over(w_asc)
        if any(r < 0 for _, _, r, _ in rank_reqs):
            cols["__rn_d__"] = F.row_number().over(w_desc)
        ranked = sub.withColumns(cols)
        rank_exprs = []
        for a, kind, r, name in rank_reqs:
            src = tim if kind == "t" else val
            hit = (F.col("__rn_a__") == r + 1) if r >= 0 else (F.col("__rn_d__") == -r)
            rank_exprs.append(F.max(F.when((attr == F.lit(a)) & hit, src)).alias(name))
        out = out.join(ranked.groupBy(*key_cols).agg(*rank_exprs),
                       on=key_cols, how="left")

    # --- custom callables via applyInPandas -----------------------------
    # Contract (reference ``catabra_pandas/resampling.py:128-161``): a
    # callable receives the window's values — or (times, values) when it
    # declares two positional parameters, for time-dependent aggs like
    # the reference docs' regression-slope example — and may emit EITHER
    # a single scalar (one output column ``{attr}_{fn.__name__}``) OR
    # several named outputs as a dict / pd.Series keyed by output name
    # (columns ``{attr}_{key}``, e.g. a covariance agg returning
    # ``{"slope": ..., "intercept": ...}``).  Output shape is discovered
    # once by probing on the driver (or pinned via ``custom_agg_schemas``,
    # keyed by final column name); each callable costs ONE applyInPandas
    # over a (keys[, time], value) projection emitting all its columns at
    # once.
    if custom_reqs:
        import pandas as pd  # noqa

        key_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in wjoin.schema.fields)

        # probe every callable first so output-column collisions (two
        # multi-output callables on one attribute sharing an output key,
        # or a custom column shadowing a built-in agg / key column) fail
        # LOUDLY here instead of as an ambiguous-reference join error
        resolved = []
        for a, fn, name in custom_reqs:
            wants_time = _custom_agg_arity(fn) >= 2
            outs = _probe_custom_agg(fn, wants_time)   # {suffix|None: ddl}

            def _out_name(suf, _a=a, _name=name):
                # None suffix = legacy scalar contract
                if suf is None:
                    return _name
                return _a + "_" + (re.sub(r"\W+", "_", suf).strip("_") or "out")

            resolved.append((a, fn, wants_time, outs,
                             [(_out_name(suf), suf) for suf in outs]))
        produced = [c for *_, oc in resolved for c, _ in oc]
        taken = set(out.columns)
        dupes = sorted({c for c in produced
                        if produced.count(c) > 1 or c in taken})
        if dupes:
            raise ValueError(
                f"resample_eav: custom aggregations produce duplicate output "
                f"column(s) {dupes}; multi-output columns are named "
                "'{attr}_{key}' and scalar ones '{attr}_{fn.__name__}' — give "
                "the callables distinct __name__s or distinct output keys")

        for a, fn, wants_time, outs, out_cols in resolved:
            types = [(custom_agg_schemas or {}).get(col, ddl)
                     for (col, _), ddl in zip(out_cols, outs.values())]
            # Group by a HASH BUCKET of the window key, not the key itself:
            # applyInPandas invokes Python once per group, each invocation
            # paying a one-row-DataFrame construction + Arrow round trip —
            # O(windows) invocations (measured 1.64 -> 1.29 s at sf0.1's
            # 7.5k windows for custom_multi; the gap scales with window
            # count, which is the 100 TB concern).  Bucketing to ~4 groups
            # per shuffle partition keeps every executor busy while each
            # invocation handles its windows through ONE pandas groupby.
            # The explicit keyed repartition (not the groupBy's own
            # exchange) remains load-bearing: AQE coalesces that exchange
            # by DATA volume, and a few MB of pairs collapse to ~1
            # partition — serializing every Python call (measured
            # 14.5 s -> 1.5 s for 7.5k groups at sf0.1).
            n_part = int(pairs.sparkSession.conf.get(
                "spark.sql.shuffle.partitions", "200"))
            proj = [*key_cols] + ([time_col] if wants_time else []) + [value_col]
            bucket = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]),
                            F.lit(n_part * 4)).cast("int")
            sub = (pairs.filter(attr == F.lit(a))
                   .select(*proj)
                   .withColumn("__g__", bucket)
                   .repartition(n_part, "__g__"))
            schema = key_ddl + "".join(
                f", {col} {t}" for (col, _), t in zip(out_cols, types))

            def make_apply(_fn, _keys, _outs, _wants_time):
                def apply_bucket(pdf: "pd.DataFrame") -> "pd.DataFrame":
                    rows = {k: [] for k in _keys}
                    cols = {c: [] for c, _ in _outs}
                    # dropna=False: NULL window keys are real groups
                    # (r6 hardening) and must keep their outputs
                    for key, g in pdf.groupby(_keys, dropna=False,
                                              sort=False):
                        if not isinstance(key, tuple):
                            key = (key,)
                        r = (_fn(g[time_col], g[value_col]) if _wants_time
                             else _fn(g[value_col]))
                        for k, v in zip(_keys, key):
                            # groupby surfaces NULL keys as NaN/NaT; emit
                            # real nulls so Arrow keeps the key dtype
                            rows[k].append(None if pd.isna(v) else v)
                        for c, suf in _outs:
                            cols[c].append(r if suf is None else r[suf])
                    return pd.DataFrame({**rows, **cols})
                return apply_bucket

            red = sub.groupBy("__g__").applyInPandas(
                make_apply(fn, key_cols, out_cols, wants_time),
                schema=schema)
            out = out.join(red, on=key_cols, how="left")

    # size/count are 0 (not null) for windows without observations
    fills = {}
    for a, fns in spec.items():
        for fn in fns:
            if not callable(fn) and fn in ("size", "count", "nunique"):
                fills[f"{a}_{fn}"] = F.coalesce(F.col(f"{a}_{fn}"), F.lit(0))
    if fills:
        out = out.withColumns(fills)
    return out.drop(*key_cols)


def _scalar_ddl(r) -> str:
    import datetime

    import numpy as np
    import pandas as pd

    if isinstance(r, (bool, np.bool_)):
        return "boolean"
    if isinstance(r, (int, np.integer)):
        return "bigint"
    if isinstance(r, (float, np.floating)) or r is None:
        return "double"
    if isinstance(r, str):
        return "string"
    if isinstance(r, (pd.Timestamp, datetime.datetime, np.datetime64)):
        return "timestamp"
    return "double"


def _custom_agg_arity(fn) -> int:
    """Number of positional parameters a custom agg callable declares: 1 =
    ``fn(values)``, >= 2 = ``fn(times, values)`` (the time-dependent
    contract — reference docs' regression-slope example needs the window's
    observation times).  Unintrospectable callables default to 1."""
    import inspect

    try:
        params = [p for p in inspect.signature(fn).parameters.values()
                  if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
                  and p.default is p.empty]
        return max(len(params), 1)
    except (TypeError, ValueError):
        return 1


def _probe_custom_agg(fn, wants_time: bool = False) -> "dict[Optional[str], str]":
    """Discover a custom aggregation's output shape by probing the callable
    with a 3-row dummy Series on the driver — reference ergonomics
    (``catabra_pandas/resampling.py:256-272`` probes with a dummy frame and
    reads the result's columns).  Returns ``{suffix: ddl_type}``: the
    single key ``None`` for the scalar contract, or one entry per named
    output when the callable returns a dict / pd.Series of outputs
    (reference ``resampling.py:128-161`` — multi-column custom aggs).
    Runs USER CODE at plan time on the driver; callers who must avoid that
    pass ``custom_agg_schemas`` instead (which always wins on types).
    Falls back to a scalar ``double`` if the probe raises.
    """
    import pandas as pd

    try:
        vals = pd.Series([1.0, 2.0, 3.0])
        r = fn(pd.Series([0.0, 1.0, 2.0]), vals) if wants_time else fn(vals)
    except Exception:
        return {None: "double"}
    if isinstance(r, Mapping):
        return {str(k): _scalar_ddl(v) for k, v in r.items()}
    if isinstance(r, pd.Series):
        # a Series return was never a valid scalar, so it unambiguously
        # means named outputs (index = output names)
        return {str(k): _scalar_ddl(v) for k, v in r.items()}
    return {None: _scalar_ddl(r)}


def resample_interval(
    df: DataFrame,
    windows: Union[DataFrame, "make_windows", Callable[[DataFrame], DataFrame]],
    attributes: Optional[Sequence[str]] = None,
    entity_col: str = "entity",
    start_col: str = "start",
    stop_col: str = "stop",
    attribute_col: str = "attribute",
    value_col: str = "value",
    time_col: Optional[str] = None,
    epsilon: float = 1e-7,
    window_start_col: Optional[str] = None,
    window_stop_col: Optional[str] = None,
    assume_unique_windows: bool = False,
    bucket_width: Optional[float] = None,
    join_strategy: str = "auto",
) -> DataFrame:
    """Resample interval-valued observations into windows with the
    duration-weighted sum  ``W_I = v * |W ∩ I| / |I|``  (reference
    ``resampling.py:453-788``; edge-case table in the reference docstring and
    ``resampling.py:2063-2124``):

    * null ``v`` contributes 0;
    * zero-length interval (``a == b``): fraction is 1 if ``a ∈ W`` else 0;
    * infinite ``I`` with non-empty finite ``W ∩ I``: contributes
      ``epsilon * sign(v)``;
    * infinite ``I`` with infinite ``W ∩ I``: fraction is 1.

    Output: ``windows`` + one double column per attribute (named by the
    attribute value), 0-filled (reference ``resampling.py:1517``).
    Window/interval overlap is evaluated with closed endpoints
    (``resampling.py:478-480,493-495``).

    Implementation: one ``merge_intervals`` inner join of observation
    intervals and windows on the entity key, a ``when()`` cascade for the
    factor, one pivoted sum.  ``bucket_width`` selects its
    ``strategy="bucket"`` (needs both window endpoints), ``join_strategy``
    "auto"/"direct"/"sweep" is passed on as ``strategy``; ``"sweep"`` and
    ``bucket_width`` are mutually exclusive.  Empty windows (null
    endpoint, start > stop) match nothing and get 0.

    **Dtype note — DayTimeIntervalType start/stop** (elapsed-time
    observation intervals; reference dtype contract "float, int, time
    delta, date time", reference resampling.py:473-476): the join and
    residual predicates compare the original interval columns, and the
    duration-weighted factor runs on ``util.interval_total_seconds`` — an
    EXACT field-extraction sum (the truncating interval→bigint cast would
    silently move sub-second overlap fractions).  The coercion family
    follows the observation start column; windows must use the same
    family (mixed end FIELDS are fine — both comparison coercion and the
    extraction normalize to DAY TO SECOND).  ``epsilon`` stays in
    seconds, and so is ``bucket_width`` (bucket ids use the same exact
    seconds view, the exact predicate the original columns).
    """
    tc = time_col or start_col
    if callable(windows) and not isinstance(windows, DataFrame):
        windows = windows(df, entity_col=entity_col, time_col=tc,
                          start_col=start_col, stop_col=stop_col)
    ensure_columns(df, [entity_col, start_col, stop_col, attribute_col, value_col])
    win, wjoin, key_cols = _window_keys(
        windows, entity_col, window_start_col or f"{tc}_start",
        window_stop_col or f"{tc}_stop", assume_unique_windows,
        bucket_width, join_strategy)

    if attributes is None:
        # discovery requires materializing the distinct attribute values on
        # the driver (the subsequent pivot needs a literal column list), so
        # it is CAPPED: at 100 TB an uncapped full-table distinct in the hot
        # path is a driver OOM.  Pass `attributes` explicitly in production
        # pipelines — it also skips this extra job entirely.
        cap = 1000
        rows = df.select(attribute_col).distinct().limit(cap + 1).collect()
        if len(rows) > cap:
            raise ValueError(
                f"more than {cap} distinct values in {attribute_col!r}; "
                "pass `attributes` explicitly (the pivoted output needs a "
                "bounded column list)")
        # sorted: collect order is partition-dependent, and the pivot column
        # order must be deterministic across plan re-evaluations
        attributes = sorted((r[0] for r in rows if r[0] is not None), key=str)
    attributes = list(attributes)

    # the factor is a RATIO of durations, so the coercion must be exact:
    # day-time intervals (elapsed-time axes) take the field-extraction sum,
    # and the coercion family follows the observation start column
    # (mismatched obs/window families fail loudly in the join's type
    # coercion)
    start_type = df.schema[start_col].dataType

    def num(c: Column) -> Column:
        return exact_numeric_double(c, start_type)

    obs = (
        df.select(entity_col, start_col, stop_col, attribute_col, value_col)
        .filter(F.col(attribute_col).isin(attributes))
    )

    # closed endpoints on both sides (reference resampling.py:478-480,
    # 493-495); merge_intervals drops empty intervals on either side
    pairs = merge_intervals(
        obs, wjoin, left_on=[entity_col], right_on=[_KE], how="inner",
        left_start=start_col, left_stop=stop_col,
        right_start=_KS if _KS in key_cols else None,
        right_stop=_KP if _KP in key_cols else None,
        strategy="bucket" if bucket_width is not None else join_strategy,
        bucket_width=bucket_width)

    a = num(F.col(start_col))
    b = num(F.col(stop_col))
    s = num(F.col(_KS)) if _KS in key_cols else F.lit(float("-inf"))
    t_ = num(F.col(_KP)) if _KP in key_cols else F.lit(float("inf"))
    inter_lo = F.greatest(a, s)
    inter_hi = F.least(b, t_)
    len_i = b - a
    len_int = inter_hi - inter_lo
    v = F.coalesce(F.col(value_col).cast("double"), F.lit(0.0))

    inf = float("inf")
    i_infinite = (a == F.lit(-inf)) | (b == F.lit(inf))
    int_infinite = (inter_lo == F.lit(-inf)) | (inter_hi == F.lit(inf))

    contrib = (
        F.when(len_i == 0, v)                                   # point interval inside W (join guarantees a∈W)
        .when(i_infinite & int_infinite, v)                      # fraction 1
        .when(i_infinite, F.lit(epsilon) * F.signum(v))          # finite non-empty ∩, infinite I
        .otherwise(v * len_int / len_i)
    )

    sums = (
        pairs.withColumn("__contrib__", contrib)
        .groupBy(*key_cols)
        .pivot(attribute_col, attributes)
        .agg(F.sum("__contrib__"))
    )
    out = win.join(sums, on=key_cols, how="left")
    out = out.withColumns({att: F.coalesce(F.col(att), F.lit(0.0)) for att in attributes})
    return out.drop(*key_cols)


class make_windows:
    """Lazy window-spec builder (reference ``resampling.py:791-1083``).

    Each of ``entity``, ``start``, ``stop``, ``start_rel``, ``stop_rel``,
    ``duration``, ``anchor`` may be a column name, a ``pyspark.sql.Column``
    expression, a SQL expression string (prefixed ``expr:``), or a literal
    scalar.  ``df`` may be a DataFrame, a callable ``DataFrame ->
    DataFrame``, or a SQL string using the view name ``df`` — the
    Spark-idiomatic replacement of the reference's ``eval()`` escape hatch
    (``resampling.py:925-932``).

    Calling the instance with the frame being resampled returns a windows
    DataFrame with columns ``entity_col``, ``{time_col}_start``,
    ``{time_col}_stop`` (the flat-column convention for the reference's
    MultiIndex windows, SURVEY.md §1.1).
    """

    def __init__(self, df=None, entity=None, start=None, stop=None,
                 start_rel=None, stop_rel=None, duration=None, anchor=None):
        if start is not None and start_rel is not None:
            raise ValueError("start and start_rel are mutually exclusive")
        if stop is not None and stop_rel is not None:
            raise ValueError("stop and stop_rel are mutually exclusive")
        self.df = df
        self.entity = entity
        self.start = start
        self.stop = stop
        self.start_rel = start_rel
        self.stop_rel = stop_rel
        self.duration = duration
        self.anchor = anchor

    def _resolve(self, df: DataFrame, spec) -> Optional[Column]:
        if spec is None:
            return None
        if isinstance(spec, Column):
            return spec
        if isinstance(spec, str):
            if spec.startswith("expr:"):
                return F.expr(spec[5:])
            if spec in df.columns:
                return F.col(spec)
            return F.expr(spec)
        return F.lit(spec)

    def __call__(self, df: DataFrame, entity_col: str = "entity",
                 time_col: str = "timestamp", **_: object) -> DataFrame:
        src = df
        if self.df is not None:
            if isinstance(self.df, DataFrame):
                src = self.df
            elif isinstance(self.df, str):
                df.createOrReplaceTempView("df")
                src = df.sparkSession.sql(self.df)
            elif callable(self.df):
                src = self.df(df)
            else:
                raise ValueError(f"unsupported df spec {self.df!r}")

        entity = self._resolve(src, self.entity)
        if entity is None:
            entity = F.col(entity_col)
        start = self._resolve(src, self.start)
        stop = self._resolve(src, self.stop)
        start_rel = self._resolve(src, self.start_rel)
        stop_rel = self._resolve(src, self.stop_rel)
        duration = self._resolve(src, self.duration)
        anchor = self._resolve(src, self.anchor)
        if (start_rel is not None or stop_rel is not None) and anchor is None:
            anchor = F.col(time_col)

        if start_rel is not None:
            start = anchor + start_rel
        if stop_rel is not None:
            stop = anchor + stop_rel
        if duration is not None:
            if start is not None and stop is None:
                stop = start + duration
            elif stop is not None and start is None:
                start = stop - duration
            else:
                raise ValueError("duration requires exactly one endpoint")

        cols = [entity.alias(entity_col)]
        if start is not None:
            cols.append(start.alias(f"{time_col}_start"))
        if stop is not None:
            cols.append(stop.alias(f"{time_col}_stop"))
        return src.select(*cols)

"""Shared conventions for the engine (SURVEY.md §7 "Conventions first").

- Intervals are two ordinary columns; a missing endpoint column means that
  endpoint is +/- infinity (reference resampling.py:58-59, merging.py:67-78).
- Null endpoints mean "empty interval" and such rows never match
  (reference merging.py:138-139).
- Open/closed endpoint flags normalize to strict/non-strict comparison
  operators (reference merging.py:434-455).
"""

from __future__ import annotations

import logging
from typing import Iterable, Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

_log = logging.getLogger(__name__)


def numeric_double(c: Column, dt) -> Column:
    """Double view of an orderable column for range-bucket / tolerance /
    distance arithmetic: timestamp-like types become epoch seconds, numerics
    cast directly.  THE single definition of time-to-double coercion — the
    asof, merging, events and resampling operators all share it, through
    ``exact_numeric_double`` where a day-time-interval axis is admitted
    (whose bigint cast truncates sub-second parts)."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return c.cast("timestamp").cast("double")
    return c.cast("double")


def plan_stats(df) -> tuple:
    """Catalyst optimizer statistics of a DataFrame's plan WITHOUT
    executing it: ``(row_count | None, size_in_bytes)``.

    ``row_count`` is the optimizer's exact/CBO estimate when available
    (``spark.range``, in-memory relations, ANALYZEd tables) and ``None``
    otherwise — plain parquet scans only carry ``size_in_bytes`` (file
    size based, always present, may over-estimate post-filter).  Meant
    for cost gates that want to SKIP a statistics job when the plan
    already proves the input tiny or known-sized (the r13 plan for
    ``merge_intervals``' auto-detector: consult these before paying the
    count jobs); callers must treat ``row_count=None`` as "unknown",
    never as zero, and remember ``size_in_bytes`` ignores filters on
    file scans."""
    st = df._jdf.queryExecution().optimizedPlan().stats()
    rc = st.rowCount()
    # py4j may hand back the scala BigInt as a java object OR an int —
    # str() round-trip covers both (applied to BOTH stats: sizeInBytes
    # is the same scala BigInt type as rowCount's payload)
    row_count = int(str(rc.get())) if rc.isDefined() else None
    return row_count, int(str(st.sizeInBytes()))


def materialization_gate(df, row_threshold: int = 2_000_000,
                         size_threshold: int = 32 << 20) -> bool:
    """THE shared cost gate for one-shot materializations and
    distributed-vs-buffered strategy picks (funnel's event-projection
    checkpoint, ``quantile_certificate``'s rank path, ExactSubstr's
    skew-safe window counting): True when the plan's optimizer statistics
    say the input is past the measured crossover, without running a job.

    One calibrated threshold pair for all callers (r13
    ``quantile_certificate`` A/B, local[32], noop sink: 1M rows agg
    2.2 s / rank 3.9 s; 2M 3.0/2.6; 4M 11.1/2.8; 10M 67.5/14.7 —
    crossover ~2M rows, ~32 MB projected plan bytes; the funnel
    materialization measured 44.1 s -> 11.2 s at 10M events on the same
    gate).  ``row_count`` is exact/CBO when the optimizer knows it and
    ``None`` otherwise — None means "unknown", never zero, so the gate
    falls through to the always-present (file-size based) size estimate.
    Callers pass the PROJECTED input (only the columns the operator
    reads), so file-scan estimates track the real payload."""
    rows, size = plan_stats(df)
    if rows is not None:
        return rows >= row_threshold
    return size >= size_threshold


def release_local_checkpoint(df) -> None:
    """Deterministically free an eager ``localCheckpoint``'s blocks.

    ``Dataset.unpersist`` consults the CacheManager and is a NO-OP for
    checkpoint RDDs (ADVICE r13): without this the blocks linger until
    the ContextCleaner garbage-collects the RDD.  A checkpointed
    Dataset's analyzed plan is a ``LogicalRDD`` holding the block-backed
    RDD — unpersisting THAT releases the blocks immediately (verified:
    RDDStorageInfo drops to empty; a subsequent read fails with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, so callers must only release a
    DataFrame they will never touch again).  Best-effort: a plan that is
    not a bare LogicalRDD (already projected/filtered) has no ``.rdd``
    handle and is left to the ContextCleaner."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as e:
        _log.debug("release_local_checkpoint: blocks left to the "
                   "ContextCleaner (%s)", e)


def exact_numeric_double(c: Column, dt) -> Column:
    """``numeric_double`` extended with DayTimeIntervalType via EXACT
    field extraction (``interval_total_seconds`` — decimal sum, full
    microsecond fraction): the coercion for TOLERANCE / DISTANCE / RATIO
    and BUCKET arithmetic on any orderable axis the engine's dtype
    contract admits (reference ``catabra_pandas/resampling.py:45-47`` —
    "anything comparable").  Exact values are also monotone, which is all
    bucket ids need; the truncating interval→bigint cast would silently
    move sub-second as-of matches and overlap fractions."""
    from pyspark.sql import types as T

    if isinstance(dt, T.DayTimeIntervalType):
        return interval_total_seconds(c)
    return numeric_double(c, dt)


def _interval_seconds_decimal(c: Column) -> Column:
    """Exact total seconds of a day-time interval as a DECIMAL: widen to
    the canonical DAY TO SECOND field range and sum the extracted fields.
    DAY/HOUR/MINUTE are integral, SECOND is a DECIMAL(8,6) carrying the
    full microsecond fraction, and all fields are sign-consistent for
    negative intervals (verified: INTERVAL '-1 02:03:04.500617' →
    -93784.500617).  The canonical widening matters: ``CAST(interval AS
    BIGINT)`` reports totals in the END FIELD's unit (``INTERVAL '3'
    DAY`` casts to 3, not 259200) and truncates sub-second parts."""
    from pyspark.sql import types as T

    canon = c.cast(T.DayTimeIntervalType(
        T.DayTimeIntervalType.DAY, T.DayTimeIntervalType.SECOND))
    return (
        F.extract(F.lit("DAY"), canon).cast("decimal(18,0)") * 86400
        + F.extract(F.lit("HOUR"), canon) * 3600
        + F.extract(F.lit("MINUTE"), canon) * 60
        + F.extract(F.lit("SECOND"), canon)
    )


def interval_total_seconds(c: Column) -> Column:
    """EXACT total seconds of a day-time interval column as a double: the
    decimal sum of ``_interval_seconds_decimal`` cast once.  The double
    is exact to the microsecond for |interval| < 2^52 µs-quanta ≈ 142
    years and monotone (nearest-rounding) beyond — far past any
    elapsed-time axis, and the same magnitude limit pandas' float64
    timedelta views have."""
    return _interval_seconds_decimal(c).cast("double")


def interval_total_micros(c: Column) -> Column:
    """EXACT total microseconds of a day-time interval as a long — the
    decimal sum of ``_interval_seconds_decimal`` scaled by 1e6 BEFORE the
    cast, so nothing is rounded: day-time intervals are
    microsecond-quantized internally.  This is the grid-arithmetic view
    (floor-div/modulo equality must be exact), the interval analogue of
    ``unix_micros``."""
    return (_interval_seconds_decimal(c) * F.lit(1_000_000)).cast("long")


def ordered_dense_ids(df: DataFrame, cols: Sequence[str],
                      out_col: str) -> DataFrame:
    """Order-preserving dense 0-based int64 ids over (assumed-distinct)
    key tuples, FULLY DISTRIBUTED — no single-partition global sort:

    1. ``repartitionByRange`` on the key (nulls last) splits the key
       space into contiguous range buckets;
    2. one O(P) aggregation collects per-bucket counts to the driver
       (scalars only — never data);
    3. a window per bucket assigns in-bucket ``row_number``, shifted by
       the bucket's running offset.

    Two shuffles total, both on the key; driver state is P scalars.  The
    same design as ``factorize``'s hash-bucket path, with range buckets
    making the ids ORDER-preserving (code order == key order), which is
    what range-bucketing non-numeric interval endpoints requires.
    """
    from pyspark.sql import Window

    cols = list(cols)
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    order = [F.col(c).asc_nulls_last() for c in cols]
    # checkpoint pins the sampled range boundaries: the counts job and
    # the consumer plans must see the IDENTICAL partitioning, and
    # repartitionByRange re-samples per evaluation otherwise
    ranged = (df.repartitionByRange(n, *order)
              .withColumn("__pid__", F.spark_partition_id())
              .localCheckpoint(eager=True))
    counts = {r["__pid__"]: r["cnt"]
              for r in ranged.groupBy("__pid__")
              .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    offsets, acc = [], 0
    for p in range(n):
        offsets.append(acc)
        acc += counts.get(p, 0)
    off = F.array(*[F.lit(o).cast("long") for o in offsets])
    w = Window.partitionBy("__pid__").orderBy(*order)
    return (ranged.withColumn(
        out_col,
        F.element_at(off, F.col("__pid__") + 1) + F.row_number().over(w) - 1)
        .drop("__pid__"))


def as_list(x) -> list:
    if x is None:
        return []
    if isinstance(x, (list, tuple)):
        return list(x)
    return [x]


def interval_overlap_cond(
    l_start: Optional[Column],
    l_stop: Optional[Column],
    r_start: Optional[Column],
    r_stop: Optional[Column],
    include_l_start: bool = True,
    include_l_stop: bool = True,
    include_r_start: bool = True,
    include_r_stop: bool = True,
) -> Column:
    """Non-empty-intersection predicate between intervals [a,b] and [c,d]
    with per-endpoint openness, as one boolean expression.

    The reference decomposes this into two disjoint containment queries via a
    16-case truth table (reference merging.py:434-455); on Spark we can hand
    Catalyst the direct predicate:

        overlap  <=>  (a < d  or (a = d and a in I1 and d in I2))
                 and  (c < b  or (c = b and c in I2 and b in I1))

    A ``None`` endpoint column means +/- infinity, which makes the
    corresponding conjunct vacuously true.
    """
    conds = []
    if l_start is not None and r_stop is not None:
        if include_l_start and include_r_stop:
            conds.append(l_start <= r_stop)
        else:
            conds.append(l_start < r_stop)
    if r_start is not None and l_stop is not None:
        if include_r_start and include_l_stop:
            conds.append(r_start <= l_stop)
        else:
            conds.append(r_start < l_stop)
    if not conds:
        return F.lit(True)
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def valid_interval_cond(
    start: Optional[Column],
    stop: Optional[Column],
    include_start: bool = True,
    include_stop: bool = True,
) -> Column:
    """Rows with empty intervals are dropped before joining
    (reference merging.py:230-288): null endpoints are empty; start > stop is
    empty; start == stop is empty unless both endpoints are closed.
    A missing endpoint column (None) is infinite, hence never empty on that
    side, but the present endpoint must still be non-null.
    """
    conds = []
    if start is not None:
        conds.append(start.isNotNull())
    if stop is not None:
        conds.append(stop.isNotNull())
    if start is not None and stop is not None:
        if include_start and include_stop:
            conds.append(start <= stop)
        else:
            conds.append(start < stop)
    if not conds:
        return F.lit(True)
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def ensure_columns(df: DataFrame, cols: Iterable[str], what: str = "column") -> None:
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"missing {what}(s) {missing}; have {df.columns}")


def ensure_min_partitions(df: DataFrame, factor: float = 1.0) -> DataFrame:
    """Round-robin repartition iff the plan has fewer partitions than
    ``factor * defaultParallelism`` — the guard that lets map-only operators
    (Arrow-batched signature/decode UDFs, regex feature extractors) use the
    whole cluster when the source cannot split.

    At production scale this is a NO-OP: a large table scan yields far more
    file splits than cores, so the branch never fires and the operator stays
    genuinely shuffle-free.  It exists for the opposite regime — a source
    that physically cannot split (one parquet row group, a gzip'd text
    file, a small dimension feeding an expensive UDF), where "map-only"
    collapses to ONE task and 31 of 32 cores idle.  One cheap round-robin
    exchange of the (already column-pruned) input is then strictly better.

    Call it AFTER selecting down to the columns the operator needs, so the
    exchange never carries dropped columns.
    """
    sc = df.sparkSession.sparkContext
    target = max(1, int(sc.defaultParallelism * factor))
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - plan not convertible, stay lazy
        return df
    if n < target:
        return df.repartition(target)
    return df

"""Event-sequence analytics: funnel completion over an event log.

The classic product-analytics query (MATCH_RECOGNIZE's most common use):
per entity, how far through an ordered sequence of step types did its
events progress, with each step matched GREEDILY — the first occurrence of
step k strictly after the matched time of step k-1 (earliest-completion
semantics, so the result is deterministic and SQL-replayable as a chain of
min-after-min aggregations).

Plan shape: k chained conditional ``min`` aggregations (k = number of
steps, small and static).  Round i filters the event log to step i's type,
joins the per-entity threshold from round i-1, and takes the earliest
qualifying time — every aggregation is map-side combinable, every shuffle
carries only per-entity scalars, and per-task state is O(1) regardless of
how many events a hot entity has.  (The previous design collected each
entity's events into one array before folding — O(events) task memory for
a hot entity, which is exactly the thing that OOMs at 100x scale.)
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from ..util import ensure_columns, numeric_double


def funnel(
    df: DataFrame,
    steps: Sequence[str],
    entity_col: str = "entity",
    time_col: str = "timestamp",
    type_col: str = "event_type",
    within: Optional[float] = None,
) -> DataFrame:
    """Greedy funnel matching: for each entity, stage k is matched at the
    earliest event of type ``steps[k]`` STRICTLY after stage k-1's matched
    time (stage 0 at the entity's earliest ``steps[0]`` event).

    Returns one row per entity that emitted at least one ``steps[0]``
    event: (entity_col, n_stages, converted, t_first, t_convert) where
    ``n_stages`` counts matched stages (1..k), ``converted`` means all
    stages matched — and, when ``within`` is given, the whole funnel fits
    inside ``within`` time units of ``t_first``; ``t_convert`` is the last
    stage's matched time (null if not converted).

    The time column may be numeric or timestamp (compared natively; for
    ``within`` a timestamp column counts in seconds)."""
    if len(steps) < 1:
        raise ValueError("steps must be non-empty")
    ensure_columns(df, [entity_col, time_col, type_col])

    from pyspark.sql import types as T
    dt = {f.name: f.dataType for f in df.schema.fields}[time_col]
    is_ts = isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType))
    t = numeric_double(F.col(time_col), dt)

    # events of relevant types only — the filter prunes every round's scan
    ev = df.filter(F.col(type_col).isin(list(steps))).select(
        F.col(entity_col), F.col(type_col).alias("__e__"), t.alias("__t__"))

    # Each stage re-scans `ev` (k scans of the source).  Past a size gate,
    # materialize the filtered 3-column projection ONCE and let the k
    # stage filters read the checkpoint instead: measured at 10M events /
    # 4 steps (parquet source, local[32], noop sink) 44.1 s as-is vs
    # 11.2 s materialized — the k re-reads dominate long before per-task
    # state does.  The gate consults optimizer plan stats (no job) and
    # skips small inputs, where k cheap scans beat paying a
    # materialization (same thresholds as quantile_certificate's
    # cost gate); streaming frames never checkpoint (stream_funnel
    # handles streaming with its own stateful operator).
    if len(steps) > 1 and not df.isStreaming:
        from ..util import materialization_gate

        if materialization_gate(ev):
            # DISK_ONLY: the materialization is a spill file, not a cache —
            # MEMORY_AND_DISK (the localCheckpoint default) pins the block
            # in unified storage memory, squeezing the stage aggregations'
            # execution memory on small heaps (reproduced: 10M events on a
            # 1 GB driver OOM'd in HashAggregate; DISK_ONLY runs it)
            from pyspark import StorageLevel

            ev = ev.localCheckpoint(eager=True,
                                    storageLevel=StorageLevel.DISK_ONLY)

    k = len(steps)
    # stage 1: plain min over step-0 events — defines the entity universe
    # stages 2..k: earliest step-i event strictly after stage i-1's time.
    # Each round joins only per-entity scalars; a null threshold (stage
    # i-1 unmatched) produces no qualifying rows, so matches stay monotone.
    # Each stage's plan references ONLY the previous stage (not the
    # accumulated left-join chain), so the logical plan grows O(k^2) nodes
    # instead of doubling per round — a 12-step funnel plans in
    # milliseconds rather than stalling Catalyst on 2^12 subplan copies.
    stages = [ev.filter(F.col("__e__") == steps[0])
              .groupBy(entity_col).agg(F.min("__t__").alias("__m1__"))]
    for i, s in enumerate(steps[1:], start=2):
        prev = f"__m{i - 1}__"
        stages.append(
            ev.filter(F.col("__e__") == s)
            .join(stages[-1].select(entity_col, prev), entity_col)
            .filter(F.col("__t__") > F.col(prev))
            .groupBy(entity_col).agg(F.min("__t__").alias(f"__m{i}__")))
    m = stages[0]
    for nxt in stages[1:]:
        m = m.join(nxt, entity_col, "left")

    n_stages = F.lit(1)
    for i in range(2, k + 1):
        n_stages = n_stages + F.col(f"__m{i}__").isNotNull().cast("int")
    tc = F.col(f"__m{k}__") if k > 1 else F.col("__m1__")

    out = m.select(
        entity_col,
        n_stages.alias("n_stages"),
        F.col("__m1__").alias("__t0__"),
        tc.alias("__tc__"))
    converted = F.col("__tc__").isNotNull()
    if within is not None:
        converted = converted & \
            ((F.col("__tc__") - F.col("__t0__")) <= float(within))
    back = (lambda c: F.timestamp_seconds(c)) if is_ts else (lambda c: c)
    return out.select(
        entity_col, "n_stages",
        converted.alias("converted"),
        back(F.col("__t0__")).alias("t_first"),
        back(F.when(converted, F.col("__tc__"))).alias("t_convert"))


def retention(
    df: DataFrame,
    entity_col: str = "entity",
    time_col: str = "timestamp",
    period: str = "week",
) -> DataFrame:
    """Cohort retention matrix: entities are cohorted by the period of
    their FIRST event; for every (cohort, offset) cell, how many of the
    cohort's entities were active ``offset`` periods later.

    Returns (cohort, period_offset, n_active) with cohort as the period's
    start date and offset 0 = the cohort period itself (so each cohort's
    offset-0 count is its size).  ``period`` is any ``date_trunc`` unit
    (week/month/day/...); offsets count whole periods via calendar
    arithmetic (``datediff`` / month deltas), so both variable-length
    months AND DST-stretched days/weeks are handled exactly in any
    session timezone.

    Plan: one aggregate for the per-entity cohort (map-side combinable
    min), one broadcast-or-shuffle join back on the entity, one final
    aggregate on the (cohort, offset) pair — the minimal shuffle set for
    a distinct-entity retention count."""
    ensure_columns(df, [entity_col, time_col])
    per = F.date_trunc(period, F.col(time_col).cast("timestamp"))
    ev = df.select(F.col(entity_col).alias("__e__"), per.alias("__p__")).distinct()
    cohort = ev.groupBy("__e__").agg(F.min("__p__").alias("__c__"))
    # offset in whole periods via CALENDAR deltas: both __p__ and __c__
    # are period starts, so datediff is an exact multiple of the period
    # length in days — immune to DST-stretched 23/25h days, unlike a
    # unix-seconds quotient (which truncates a 601200s spring-fwd week
    # down a cell in non-fixed-offset timezones).
    days = F.datediff(F.to_date("__p__"), F.to_date("__c__"))
    if period == "day":
        off = days.cast("long")
    elif period == "week":
        off = (days / 7).cast("long")
    else:
        months = (F.year("__p__") - F.year("__c__")) * 12 + \
                 (F.month("__p__") - F.month("__c__"))
        off = {"month": months.cast("long"),
               "quarter": (months / 3).cast("long"),
               "year": (months / 12).cast("long")}.get(period)
        if off is None:
            raise ValueError(f"unsupported period {period!r}")
    return (ev.join(cohort, "__e__")
            .groupBy(F.to_date("__c__").alias("cohort"),
                     off.alias("period_offset"))
            .agg(F.count(F.lit(1)).alias("n_active")))

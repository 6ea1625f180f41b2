"""Sketch-based summaries for 100 TB-scale pipelines: approximate distinct
counts, frequent items (heavy hitters), quantile sketches, and Bloom-filter
join pruning.

Design rule shared by every operator here: the SKETCH bounds memory/
communication, but whenever the final answer can be made EXACT with one
cheap extra pass (recounting a small candidate set, verifying a bound), we
take that pass — the result is then deterministic and oracle-checkable
while the sketch still does the scale-critical work of shrinking the
problem.

* ``approx_distinct`` — per-group HyperLogLog++ (`approx_count_distinct`,
  a map-side-combinable JVM aggregate; the sketch is O(1) per group where
  exact `countDistinct` shuffles every distinct value).
* ``heavy_hitters`` — two-pass frequent items: per-partition candidate
  generation (exact partition counts or capacity-bounded Misra-Gries) with
  the pigeonhole guarantee that no global heavy hitter is missed, then an
  exact recount of the (small) candidate set.  Output is exact.
* ``quantile_sketch`` — per-group `percentile_approx` (GK sketch) with the
  rank-error contract surfaced.
* ``bloom_prejoin`` — build a Bloom filter over the build side's keys with
  plain DataFrame aggregation (hash positions -> `bit_or` of 64-bit
  words), embed it as ONE array literal in the probe side's scan filter,
  and only then run the real join: the probe table is pruned BEFORE the
  join shuffle, which is the whole point at 100 TB (Spark's own runtime
  bloom filters do this automatically only for favorable shapes; this
  operator makes it explicit and tunable).
"""

from __future__ import annotations

import math
from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, functions as F

from ..util import as_list, ensure_min_partitions

# Mersenne prime 2^31-1: keeps double-hashing arithmetic in int64 (see
# pipeline/dedup.py) and is coprime with any bit count < 2^31
_P = (1 << 31) - 1


# --------------------------------------------------------------------------
# distinct counting
# --------------------------------------------------------------------------

def approx_distinct(
    df: DataFrame,
    group_by: Union[str, Sequence[str], None],
    col: str,
    rsd: float = 0.05,
    out_col: str = "approx_nd",
) -> DataFrame:
    """Per-group approximate distinct count (HyperLogLog++).

    The sketch is a fixed-size register array per group, merged map-side —
    the exchange carries O(groups) sketches, not O(distinct values) rows,
    which is the difference between feasible and not at 100 TB
    cardinalities.  ``rsd`` is the target relative standard deviation.
    """
    gb = as_list(group_by)
    agg = F.approx_count_distinct(col, rsd=rsd).alias(out_col)
    return df.groupBy(*gb).agg(agg) if gb else df.agg(agg)


def distinct_certificate(
    df: DataFrame,
    group_by: Union[str, Sequence[str], None],
    col: str,
    rsd: float = 0.05,
    tolerance_sds: float = 6.0,
) -> DataFrame:
    """Exact distinct count per group plus a bool certifying the HLL
    estimate landed within ``tolerance_sds`` relative standard deviations.

    The exact side makes the output deterministic (SQL-replayable); the
    bool carries the sketch-quality signal.  Returns
    (group_by..., exact_nd, within_bound)."""
    gb = as_list(group_by)
    aggs = [F.countDistinct(col).alias("exact_nd"),
            F.approx_count_distinct(col, rsd=rsd).alias("__approx__")]
    out = df.groupBy(*gb).agg(*aggs) if gb else df.agg(*aggs)
    err = F.abs(F.col("__approx__") - F.col("exact_nd")).cast("double")
    bound = F.greatest(F.col("exact_nd").cast("double") * tolerance_sds * rsd,
                       F.lit(1.0))
    return out.withColumn("within_bound", err <= bound).drop("__approx__")


# --------------------------------------------------------------------------
# frequent items
# --------------------------------------------------------------------------

def heavy_hitters(
    df: DataFrame,
    col: str,
    min_share: float = 0.001,
    capacity: Optional[int] = None,
) -> DataFrame:
    """EXACT frequent items: every value of ``col`` whose global frequency
    is >= ``min_share`` of the row count, as (value, cnt) — via a
    sketch-pruned two-pass plan that never aggregates the full value
    domain.

    Pass 1 (candidates): per input partition, count values and emit those
    with LOCAL share >= min_share.  Pigeonhole: if freq(x) >= s*N globally
    then freq_p(x) >= s*N_p in at least one partition, so no true heavy
    hitter is missed; false candidates are eliminated by pass 2.  With
    ``capacity=None`` partition counts are exact (memory = per-partition
    distinct values — fine for word-like domains); a ``capacity`` bounds
    memory with Misra-Gries decrements (undercount <= n_p/capacity, so
    candidates are kept at local share >= min_share - 1/capacity; requires
    capacity > 1/min_share).

    Pass 2 (exact): semi-join the rows against the broadcast candidate set
    and count exactly; keep cnt >= ceil(min_share * N).  The aggregation
    runs over candidate rows only — the exchange never carries the long
    tail, which is what makes exact frequent-items affordable at scale.

    The candidate pass also emits one MARKER row per partition carrying
    that partition's row count, and its (tiny) output is materialized
    eagerly: the global N is the sum of the markers, so the operator
    reads the input exactly TWICE (candidates+count, exact recount) —
    the r12 formulation paid a third full scan just for ``count(*)``
    (guide §1.2: don't recompute what a pass already saw).
    """
    if not (0.0 < min_share <= 1.0):
        raise ValueError("min_share must be in (0, 1]")
    if capacity is not None and capacity <= 1.0 / min_share:
        raise ValueError("capacity must exceed 1/min_share for the "
                         "no-false-negative guarantee")
    import pyarrow as pa
    import pyarrow.compute as pc

    vals = ensure_min_partitions(df.select(F.col(col).alias("val")))
    out_schema = "val " + dict(vals.dtypes)["val"] + ", __np__ long"
    nan = float("nan")  # one NaN key object: dict lookups match it by identity

    def candidates(batches):
        counts: dict = {}
        n = 0
        val_type = None
        for batch in batches:
            val_type = batch.schema.field("val").type
            n += batch.num_rows
            vc = pc.value_counts(batch.column("val"))
            for v, c in zip(vc.field("values").to_pylist(),
                            vc.field("counts").to_pylist()):
                if v is None:
                    continue
                if v != v:
                    v = nan
                counts[v] = counts.get(v, 0) + c
            if capacity is not None and len(counts) > capacity:
                # Misra-Gries decrement: drop the smallest counters so at
                # most `capacity` survive; every surviving count is an
                # undercount by at most the cut value (sum of cuts <= n/cap)
                cut = sorted(counts.values())[len(counts) - capacity]
                counts = {v: c - cut for v, c in counts.items() if c > cut}
        if val_type is None:
            return  # empty partition: no candidates, and it counts 0 rows
        thresh = (min_share - (1.0 / capacity if capacity else 0.0)) * n
        keep = [v for v, c in counts.items() if c >= thresh]
        # Arrow batches keep the value column's native type next to nulls
        # (a pandas frame turns a nullable long column into float64 and
        # corrupts values above 2^53).  The marker row's NULL value tags
        # the partition count: a null is never a candidate.
        yield pa.RecordBatch.from_arrays(
            [pa.array(keep + [None], type=val_type),
             pa.array([None] * len(keep) + [n], type=pa.int64())],
            names=["val", "__np__"])

    cand_all = (vals.mapInArrow(candidates, out_schema)
                .localCheckpoint(eager=True))
    cand = (cand_all.filter(F.col("val").isNotNull())
            .select("val").distinct())
    total = (cand_all.filter(F.col("val").isNull())
             .agg(F.coalesce(F.sum("__np__"), F.lit(0)).alias("__n__")))
    counted = (vals.join(F.broadcast(cand), "val", "left_semi")
               .groupBy("val").agg(F.count(F.lit(1)).alias("cnt")))
    return (counted.crossJoin(F.broadcast(total))
            .filter(F.col("cnt") >= F.ceil(F.lit(min_share) * F.col("__n__")))
            .select(F.col("val").alias(col), "cnt"))


# --------------------------------------------------------------------------
# quantiles
# --------------------------------------------------------------------------

def quantile_sketch(
    df: DataFrame,
    group_by: Union[str, Sequence[str], None],
    col: str,
    probs: Sequence[float],
    accuracy: int = 10000,
) -> DataFrame:
    """Per-group approximate quantiles (Greenwald-Khanna sketch via
    ``percentile_approx``): rank error <= 1/accuracy, fixed sketch size per
    group, map-side-combinable — where the exact ``percentile`` is a
    TypedImperativeAggregate that buffers every value of the group.
    Returns (group_by..., q_0..q_k arrays as `quantiles`)."""
    gb = as_list(group_by)
    agg = F.percentile_approx(
        col, F.array(*[F.lit(float(p)) for p in probs]),
        F.lit(int(accuracy))).alias("quantiles")
    return df.groupBy(*gb).agg(agg) if gb else df.agg(agg)


def quantile_certificate(
    df: DataFrame,
    group_by: Union[str, Sequence[str], None],
    col: str,
    probs: Sequence[float],
    accuracy: int = 10000,
    rank_slack: float = 0.005,
    exact_strategy: str = "auto",
) -> DataFrame:
    """Exact per-group quantiles plus a bool certifying the GK sketch's
    rank-error contract: each approximate quantile must lie within the
    exact [q - eps, q + eps] value envelope, eps = 1/accuracy +
    ``rank_slack``.  The slack absorbs the discretization gap between the
    sketch (which returns an actual element of the group) and the exact
    ``percentile`` (which interpolates between ranks): an element one rank
    outside the tight envelope is within contract but below the
    interpolated boundary.  Returns (group_by..., exact quantile columns
    q_XX..., within_bound).

    ``exact_strategy`` picks how the EXACT side runs (both produce
    bit-identical results — the rank path reimplements ``percentile()``'s
    interpolation formula exactly):

    * ``"agg"`` — one ``percentile()`` aggregate evaluating all 3n
      probabilities from a single buffered pass.  Cheapest for small
      inputs (one exchange, one job), but the buffer holds every distinct
      value of a group with its count, and ONE reduce task owns each
      group: near-unique value columns with few groups hit an O(rows)
      single-task buffer — a parallelism ceiling locally and an OOM at
      scale.
    * ``"rank"`` — distributed rank selection: range-partition on
      (group..., value), global rank by pure offset arithmetic, keep only
      the <= 2·3n rows at target ranks, interpolate on that tiny set.
      External-sortable, parallelism = partitions regardless of group
      count; costs a sampling pass + range shuffle + checkpoint, so it
      loses to "agg" on small inputs.
    * ``"auto"`` (default) — consult the optimizer's plan statistics
      (``util.plan_stats`` — no job): "rank" when the projected input is
      known or estimated past the measured crossover, else "agg".
      Calibration anchors (local[32], 3 near-unique-double groups,
      noop-sink best-of-2): 1M rows agg 2.2 s / rank 3.9 s; 2M 3.0 / 2.6;
      4M 11.1 / 2.8; 10M 67.5 / 14.7 — crossover ~2M rows, ~32 MB
      projected plan bytes."""
    if exact_strategy not in ("auto", "agg", "rank"):
        raise ValueError(
            f"exact_strategy must be auto/agg/rank, got {exact_strategy!r}")
    gb = as_list(group_by)
    eps = 1.0 / accuracy + rank_slack
    n_p = len(probs)
    all_probs = ([float(p) for p in probs]
                 + [max(0.0, float(p) - eps) for p in probs]
                 + [min(1.0, float(p) + eps) for p in probs])

    if exact_strategy == "auto":
        from ..util import materialization_gate
        # the shared plan-stats gate (no job): "rank" past the measured
        # crossover, "agg" below it — calibration recorded on the gate
        exact_strategy = ("rank" if materialization_gate(df.select(*gb, col))
                          else "agg")

    if exact_strategy == "agg":
        # ONE exact percentile aggregate evaluating all 3n probabilities
        # (exact + lo/hi envelope) from a single buffered pass — n
        # separate percentile() aggs each buffer the whole group
        # independently (measured 7 s -> well under 1 s on 600k rows x 3
        # quartiles)
        probs_sql = ", ".join(f"{p}D" for p in all_probs)
        exact = F.expr(f"percentile({col}, array({probs_sql}))").alias("__ex__")
        approx = F.percentile_approx(
            col, F.array(*[F.lit(float(p)) for p in probs]),
            F.lit(int(accuracy))).alias("__approx__")
        out = df.groupBy(*gb).agg(exact, approx) if gb else df.agg(exact, approx)
        ok = F.lit(True)
        cols = {}
        for i, p in enumerate(probs):
            a = F.element_at("__approx__", i + 1)
            ok = ok & (a >= F.element_at("__ex__", n_p + i + 1)) \
                   & (a <= F.element_at("__ex__", 2 * n_p + i + 1))
            cols[f"q_{int(p * 100):02d}"] = F.element_at("__ex__", i + 1)
        cols["within_bound"] = ok
        return out.withColumns(cols).drop("__ex__", "__approx__")

    # EXACT side by distributed rank selection, not percentile()'s
    # per-group buffered aggregate: with few groups (the typical shape —
    # 3 return flags, a handful of languages) the buffered aggregate
    # degenerates to one task per group holding the ENTIRE group's values
    # in memory — a parallelism ceiling of |groups| out of all cores
    # locally and a guaranteed OOM at 100 TB.  Instead:
    #
    # 1. range-partition on (group..., value) and sort within partitions —
    #    the data is then GLOBALLY sorted, external-sort-spillable, with
    #    parallelism = partitions regardless of group count;
    # 2. a row's global rank inside its group is pure arithmetic over two
    #    O(P)/O(G) offset tables (per-partition row counts, per-group
    #    start offsets) broadcast-joined back map-only — no second
    #    full-data exchange, no full-data window;
    # 3. only the <= 2*3n rows sitting AT a target rank survive the
    #    filter; the interpolation runs on that tiny set.
    #
    # The eager localCheckpoint pins the sampled range boundaries (and
    # the physical row order the in-partition sequence numbers derive
    # from) across the offset jobs and every consumer — mandatory, since
    # repartitionByRange re-samples per evaluation.  Interpolation uses
    # percentile()'s exact formula ((hi-pos)*v_lo + (pos-lo)*v_hi), so
    # results are bit-identical to the previous aggregate.
    from pyspark.sql import Window

    P = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    vals = df.select(*gb, F.col(col).alias("__x__"))
    order = [F.col(c).asc_nulls_last() for c in gb] + \
            [F.col("__x__").asc_nulls_last()]
    # lower 33 bits of monotonically_increasing_id = row index within the
    # partition (documented layout), taken AFTER the in-partition sort so
    # it is the row's sorted position; null values order last within the
    # group, so non-null ranks are 0..n-1 with n = the non-null count
    ranged = (vals.repartitionByRange(P, *order)
              .sortWithinPartitions(*order)
              .select("*", F.spark_partition_id().alias("__pid__"),
                      F.monotonically_increasing_id()
                      .bitwiseAND(F.lit((1 << 33) - 1)).alias("__seq__"))
              .localCheckpoint(eager=True))

    pw = Window.orderBy("__pid__").rowsBetween(Window.unboundedPreceding, -1)
    parts = (ranged.groupBy("__pid__").agg(F.count(F.lit(1)).alias("__c__"))
             .select("__pid__",
                     F.coalesce(F.sum("__c__").over(pw),
                                F.lit(0)).alias("__poff__")))
    if gb:
        gw = Window.orderBy(*[F.col(c).asc_nulls_last() for c in gb]) \
            .rowsBetween(Window.unboundedPreceding, -1)
        groups = (ranged.groupBy(*gb)
                  .agg(F.count(F.lit(1)).alias("__call__"),
                       F.count("__x__").alias("__n__"))
                  .select(*gb, "__n__",
                          F.coalesce(F.sum("__call__").over(gw),
                                     F.lit(0)).alias("__goff__")))
    else:
        groups = (ranged.agg(F.count(F.lit(1)).alias("__call__"),
                             F.count("__x__").alias("__n__"))
                  .select("__n__", F.lit(0).cast("long").alias("__goff__")))

    joined = ranged.join(F.broadcast(parts), "__pid__")
    if gb:
        g2 = groups.select(
            *[F.col(c).alias(f"__g_{c}__") for c in gb], "__n__", "__goff__")
        cond = None
        for c in gb:
            e = joined[c].eqNullSafe(g2[f"__g_{c}__"])
            cond = e if cond is None else (cond & e)
        joined = joined.join(F.broadcast(g2), cond) \
            .drop(*[f"__g_{c}__" for c in gb])
    else:
        joined = joined.crossJoin(F.broadcast(groups))

    r = F.col("__poff__") + F.col("__seq__") - F.col("__goff__")
    nm1 = (F.col("__n__") - 1).cast("double")
    keep = F.lit(False)
    for p in all_probs:
        pos = F.lit(float(p)) * nm1
        keep = keep | (r == F.floor(pos)) | (r == F.ceil(pos))
    kept = (joined.filter(F.col("__x__").isNotNull() & keep)
            .select(*gb, F.col("__x__").cast("double").alias("__xd__"),
                    r.alias("__r__"), "__n__"))

    aggs = []
    for i, p in enumerate(all_probs):
        pos = F.lit(float(p)) * nm1
        aggs.append(F.max(F.when(F.col("__r__") == F.floor(pos),
                                 F.col("__xd__"))).alias(f"__lo{i}__"))
        aggs.append(F.max(F.when(F.col("__r__") == F.ceil(pos),
                                 F.col("__xd__"))).alias(f"__hi{i}__"))
    aggs.append(F.max("__n__").alias("__ng__"))
    ex = kept.groupBy(*gb).agg(*aggs) if gb else kept.agg(*aggs)
    nm1g = (F.col("__ng__") - 1).cast("double")
    exact_cols = []
    for i, p in enumerate(all_probs):
        pos = F.lit(float(p)) * nm1g
        lo, hi = F.floor(pos), F.ceil(pos)
        q = F.when(lo == hi, F.col(f"__lo{i}__")).otherwise(
            (hi.cast("double") - pos) * F.col(f"__lo{i}__")
            + (pos - lo.cast("double")) * F.col(f"__hi{i}__"))
        exact_cols.append(q.alias(f"__e{i}__"))
    ex = ex.select(*gb, *exact_cols)

    # the sketch side: fixed-size combinable GK aggregate over the same
    # checkpoint (groups whose values are all null stay present here,
    # matching the previous aggregate's output shape)
    approx = (ranged.groupBy(*gb) if gb else ranged.groupBy()).agg(
        F.percentile_approx(
            "__x__", F.array(*[F.lit(float(p)) for p in probs]),
            F.lit(int(accuracy))).alias("__approx__"))
    if gb:
        e2 = ex.select(*[F.col(c).alias(f"__g_{c}__") for c in gb],
                       *[f"__e{i}__" for i in range(len(all_probs))])
        cond = None
        for c in gb:
            e = approx[c].eqNullSafe(e2[f"__g_{c}__"])
            cond = e if cond is None else (cond & e)
        out = approx.join(F.broadcast(e2), cond, "left") \
            .drop(*[f"__g_{c}__" for c in gb])
    else:
        out = approx.crossJoin(F.broadcast(ex))

    ok = F.lit(True)
    cols = {}
    for i, p in enumerate(probs):
        a = F.element_at("__approx__", i + 1)
        ok = ok & (a >= F.col(f"__e{n_p + i}__")) \
               & (a <= F.col(f"__e{2 * n_p + i}__"))
        cols[f"q_{int(p * 100):02d}"] = F.col(f"__e{i}__")
    cols["within_bound"] = ok
    return out.withColumns(cols).drop(
        "__approx__", *[f"__e{i}__" for i in range(len(all_probs))])


# --------------------------------------------------------------------------
# Bloom-filter join pruning
# --------------------------------------------------------------------------

def _bloom_positions(key: Column, num_bits: int, num_hashes: int) -> list:
    """Kirsch-Mitzenmacher double hashing: position_i = (h1 + i*h2) mod m.
    h2 is forced odd so it is coprime with any power-of-two m."""
    h1 = F.pmod(F.xxhash64(key), F.lit(_P))
    h2 = F.pmod(F.xxhash64(F.lit(1), key), F.lit(_P)).bitwiseOR(F.lit(1))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(num_bits))
            for i in range(num_hashes)]


def bloom_filter_words(
    df: DataFrame,
    key_col: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> DataFrame:
    """Build a Bloom filter over ``df[key_col]`` as a DataFrame of 64-bit
    words: (word_idx, word) with word = OR of the set bits.

    Pure DataFrame aggregation — explode each key's ``num_hashes``
    positions, one map-side-combinable ``bit_or`` groupBy on
    ``num_bits/64`` word groups.  The exchange carries at most
    one row per (partition, word), i.e. it is bounded by the filter size
    times the partition count, never by the key count."""
    if num_bits % 64:
        raise ValueError("num_bits must be a multiple of 64")
    pos = F.explode(F.array(*_bloom_positions(F.col(key_col), num_bits,
                                              num_hashes))).alias("pos")
    return (df.select(pos)
            .select((F.col("pos") / 64).cast("long").alias("word_idx"),
                    F.call_function(
                        "shiftleft", F.lit(1).cast("long"),
                        F.pmod(F.col("pos"), F.lit(64)).cast("int"))
                    .alias("bit"))
            .groupBy("word_idx").agg(F.bit_or("bit").alias("word")))


def bloom_prejoin(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: Optional[str] = None,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    how: str = "left_semi",
) -> DataFrame:
    """Join ``probe`` to ``build`` on key equality with an explicit
    Bloom-filter pre-prune of the probe side.

    The filter words are collected (bounded: ``num_bits/64`` longs — a
    function of the CHOSEN filter size, never of the data) and embedded as
    one array literal in a codegen predicate on the probe scan:
    ``element_at(words, pos div 64 + 1) & (1 << pos%64) != 0`` for each of
    the ``num_hashes`` positions.  Probe rows failing any bit test are
    dropped IN THE SCAN STAGE — before the join exchange — which is the
    entire value at scale: a 1% match rate means 99% of the probe table
    never enters the shuffle.  Bloom filters have no false negatives, so
    the subsequent real join makes the result exact.

    Size num_bits ~ 10-15 bits per expected distinct build key for ~1%
    false positives; beyond ~2^27 bits the plan literal gets unwieldy —
    at that point fall back to a plain join and let AQE handle it (or use
    ``spark.sql.optimizer.runtime.bloomFilter.enabled``, which covers the
    automatic cases).
    """
    # pre-pruning the probe side is only semantics-preserving for join
    # types whose result never contains a probe row with NO build match;
    # for left/full outer (and left_anti, which is nearly fully inverted)
    # the prune would silently drop rows that belong in the result.
    # 'semi'/'leftsemi' normalize to left_semi; 'cross' degenerates to
    # inner because the key equality condition is always applied.
    aliases = {"semi": "left_semi", "leftsemi": "left_semi", "cross": "inner"}
    how = aliases.get(how, how)
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"bloom_prejoin supports how in (inner, left_semi — aliases "
            f"semi/leftsemi — and cross, which degenerates to inner since "
            f"the key condition is always applied); got {how!r} — "
            f"pre-pruning the probe side would drop result rows for "
            f"outer/anti joins. Use a plain join for those.")
    bk = build_key or probe_key
    rows = bloom_filter_words(build, bk, num_bits, num_hashes).collect()
    words = [0] * (num_bits // 64)
    for r in rows:
        words[int(r["word_idx"])] = int(r["word"])
    # ONE string literal + constant-folded from_json — NOT F.lit(list),
    # which builds a CreateArray with num_bits/64 literal child nodes and
    # makes every optimizer rule walk an 80k-node tree (measured ~10 s of
    # driver-side planning at 2^20 bits); from_json of a literal folds to
    # a single array Literal in one step
    import json as _json
    arr = F.from_json(F.lit(_json.dumps(words)), "array<bigint>")

    cond = F.lit(True)
    for p in _bloom_positions(F.col(probe_key), num_bits, num_hashes):
        word = F.element_at(arr, (p / 64).cast("long").cast("int") + F.lit(1))
        bit = F.call_function("shiftleft", F.lit(1).cast("long"),
                              F.pmod(p, F.lit(64)).cast("int"))
        cond = cond & (word.bitwiseAND(bit) != 0)
    pruned = probe.filter(cond)
    if how == "left_semi":
        return pruned.join(build.select(F.col(bk).alias(probe_key)).distinct(),
                           probe_key, "left_semi")
    return pruned.join(build, pruned[probe_key] == build[bk], how)

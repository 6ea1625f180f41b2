"""Deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point at 100 TB):

* candidate generation is ALWAYS a bucketed equi-join — LSH band buckets,
  simhash blocks, or shared shingles — never an O(n²) cross join;
* signatures are computed with JVM-side array expressions
  (``split``/``transform``/``xxhash64``) or Arrow-batched numpy (never
  row-at-a-time Python);
* every function returns a DataFrame pipeline that shuffles on the bucket
  key once, so AQE can coalesce/split skewed buckets.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..util import as_list, ensure_min_partitions

# Mersenne prime 2^31-1 for the minhash permutation family: keeps
# h*a + b < 2^62 so ANSI-mode int64 arithmetic cannot overflow
_MERSENNE = (1 << 31) - 1


def exact_dedup(
    df: DataFrame,
    columns: Union[str, Sequence[str], None] = None,
    id_col: Optional[str] = None,
    mode: str = "mark",
) -> DataFrame:
    """Exact deduplication by content hash.

    ``columns`` (default: all columns except ``id_col``) are md5-hashed into
    ``dup_key``; the canonical row per group is the one with the smallest
    ``id_col`` (required for deterministic results; falls back to an
    arbitrary-but-stable row otherwise).

    ``mode="mark"`` adds ``dup_key``, ``dup_count`` and ``is_duplicate``;
    ``mode="drop"`` returns only canonical rows.  One hash-shuffle on
    ``dup_key`` — the optimal distributed plan for exact dedup.
    """
    if mode not in ("mark", "drop"):
        raise ValueError(f"mode must be mark/drop, got {mode!r}")
    cols = as_list(columns) if columns else [c for c in df.columns if c != id_col]
    key = F.md5(F.concat_ws("\x01", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                                        for c in cols]))
    out = df.withColumn("dup_key", key)
    order = [F.col(id_col).asc()] if id_col else [F.lit(1)]
    w = Window.partitionBy("dup_key").orderBy(*order)
    out = out.withColumns({
        "dup_count": F.count(F.lit(1)).over(
            Window.partitionBy("dup_key").rowsBetween(Window.unboundedPreceding,
                                                      Window.unboundedFollowing)),
        "is_duplicate": F.row_number().over(w) > 1,
    })
    if mode == "drop":
        out = out.filter(~F.col("is_duplicate")).drop("is_duplicate")
    return out


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles of normalized text, as an array<string>.
    Documents with fewer than k tokens yield their full token string as the
    single shingle.

    NOTE: array-lambda form that references the token pipeline inside each
    per-element lambda — Catalyst inlines it per element, so do NOT
    reference this repeatedly in one projection; the scalable row-wise form
    is ``shingle_rows`` (token array bound once as a lambda variable, then
    exploded), which all the near-dup operators below use."""
    cleaned = F.trim(F.regexp_replace(F.lower(text), r"[^a-z0-9 ]", " "))
    toks = F.filter(F.split(cleaned, r" +"), lambda t: t != "")
    n = F.size(toks)
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return F.array_distinct(F.when(n > 0, sh).otherwise(F.array()))


def _tokens(text_col: str) -> Column:
    """Normalized word tokens of ``text_col`` as an array<string> (lowercase,
    non-alphanumerics collapsed to spaces, empties dropped)."""
    cleaned = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9 ]", " "))
    return F.filter(F.split(cleaned, r" +"), lambda t: t != "")


def _shingle_array(text_col: str, k: int, distinct: bool = True) -> Column:
    """Per-row word-k-shingle array as ONE codegen expression.

    The token array is bound as a lambda VARIABLE via
    ``transform(array(toks), t -> ...)`` so it is evaluated once per row;
    referencing the tokenizer expression directly inside the per-element
    lambda would make Catalyst inline it per element (quadratic recompute,
    measured ~60x on minhash)."""
    def _mk(t):
        n = F.size(t)
        return F.when(n > F.lit(0), F.transform(
            F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(t, i + 1, k)),
        )).otherwise(F.array().cast("array<string>"))

    sh_arr = F.element_at(F.transform(F.array(_tokens(text_col)), _mk), 1)
    return F.array_distinct(sh_arr) if distinct else sh_arr


def shingle_rows(df: DataFrame, text_col: str, id_col: str, k: int = 3,
                 with_size: bool = False, distinct: bool = True) -> DataFrame:
    """Distinct (id, shingle) rows, MAP-ONLY: the per-document shingle array
    is built as one codegen expression and exploded — no shuffle at all
    (an earlier explode-tokens + window-``lead`` formulation paid a full
    exchange of the token stream by ``id_col`` plus a distinct).

    The token array is bound as a lambda VARIABLE via
    ``transform(array(toks), t -> ...)`` so it is evaluated once per row;
    referencing the tokenizer expression directly inside the per-element
    lambda would make Catalyst inline it per element (quadratic recompute,
    measured ~60x on minhash).  ``concat_ws`` of a short doc's (< k tokens)
    partial slice is its full token string — same semantics as
    ``shingles()``; empty documents yield no rows.

    ``with_size=True`` adds ``__n__`` = |distinct shingle set|, computed
    map-side from the same array (where a window count over ``id_col``
    would cost the very exchange this formulation avoids).
    ``distinct=False`` keeps every occurrence (one row per shingle
    POSITION) — for frequency-based consumers like ``repetition_stats``."""
    sh_arr = _shingle_array(text_col, k, distinct=distinct)
    if with_size:
        base = df.select(F.col(id_col), sh_arr.alias("__sh_arr__"))
        return base.select(id_col, F.explode("__sh_arr__").alias("sh"),
                           F.size("__sh_arr__").alias("__n__"))
    return df.select(F.col(id_col), F.explode(sh_arr).alias("sh"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
    strategy: str = "agg",
) -> DataFrame:
    """MinHash signature per document: distinct shingles → xxhash64 → n
    universal-hash permutations ``min((a*h + b) mod p)``.  Documents with no
    shingles (empty text) are omitted.  Output: ``id_col``, ``signature``
    (array<long> length ``num_hashes``).  Both strategies produce
    bit-identical signatures.

    ``strategy="agg"`` (default) explodes shingles and takes the n minima
    as one groupBy — the explode is map-only (shingles of a doc stay in
    their partition), so partial aggregation already reduces each doc to
    one 64-long buffer before the exchange: the shuffle carries signatures
    (~0.5 KB/doc), never shingles.  Measured fastest at sf0.1 (1.5 s vs
    2.1 s): codegen hashing after explode beats the interpreted per-element
    HOF hashing the arrow path pays.

    ``strategy="arrow"`` is MAP-ONLY — zero shuffles: the per-document
    shingle-hash array is one codegen expression (``_shingle_array`` +
    ``transform(.., xxhash64)``), and the n permutation minima are one
    Arrow-batched numpy broadcast + ``minimum.reduceat`` per batch.  Pick
    it when even a signature-sized exchange is unwanted (e.g. the output
    feeds a map-side-only consumer, or shuffle capacity is the cluster
    bottleneck)."""
    if strategy not in ("arrow", "agg"):
        raise ValueError(f"strategy must be arrow/agg, got {strategy!r}")
    import random

    rnd = random.Random(seed)
    coefs = [(rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE))
             for _ in range(num_hashes)]

    if strategy == "arrow":
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T
        from pyspark.sql.functions import pandas_udf

        A = np.asarray([a for a, _ in coefs], dtype=np.int64)
        B = np.asarray([b for _, b in coefs], dtype=np.int64)

        @pandas_udf(T.ArrayType(T.LongType()))
        def sig_udf(harrs):
            lens = np.fromiter((len(x) for x in harrs), dtype=np.int64,
                               count=len(harrs))
            out = np.empty(len(harrs), dtype=object)
            nz = np.flatnonzero(lens)
            if len(nz):
                flat = np.concatenate(
                    [np.asarray(harrs.iat[i], dtype=np.int64) for i in nz])
                # h < p and a < p = 2^31-1, so h*a + b < 2^62: int64-safe
                perm = (flat[:, None] * A + B) % _MERSENNE
                starts = np.zeros(len(nz), dtype=np.int64)
                np.cumsum(lens[nz[:-1]], out=starts[1:])
                mins = np.minimum.reduceat(perm, starts, axis=0)
                for j, i in enumerate(nz):
                    out[i] = mins[j]
            return pd.Series(out)

        # Two Spark 4.1 landmines shape this plan:
        # 1. empty docs are dropped on the RAW TEXT (tokens are empty iff
        #    the cleaned text is empty) — a predicate referencing the UDF
        #    input/output gets inlined around the PythonUDF by pushdown/
        #    collapse, and interpreted Filter/Projection nodes cannot
        #    evaluate one (INTERNAL_ERROR "Cannot evaluate expression");
        # 2. the UDF input avoids the nested-lambda binding trick
        #    (element_at(transform(array(toks), ...), 1)): feeding that
        #    expression to a Python UDF after any mid-session conf.set
        #    hits the same INTERNAL_ERROR.  Instead the token array is
        #    staged as a real COLUMN — referenced multiple times in the
        #    shingle lambda, so CollapseProject cannot re-inline the
        #    tokenizer (the plan keeps exactly one regexp_replace) — and
        #    the shingle/hash transforms are single-level lambdas over it.
        cleaned = F.trim(F.regexp_replace(F.lower(F.col(text_col)),
                                          r"[^a-z0-9 ]", " "))
        base = ensure_min_partitions(
            df.select(F.col(id_col), F.col(text_col)).filter(cleaned != ""))
        base = base.withColumn("__toks__", _tokens(text_col))
        toks = F.col("__toks__")
        n = F.size(toks)
        sh = F.when(n > F.lit(0), F.transform(
            F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )).otherwise(F.array().cast("array<string>"))
        # pmod, not abs(...)%: abs(Long.MIN_VALUE) stays negative (and
        # errors under ANSI)
        hs = F.transform(F.array_distinct(sh),
                         lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE)))
        return base.select(F.col(id_col), sig_udf(hs).alias("signature"))

    rows = shingle_rows(df, text_col, id_col, k)
    h = F.pmod(F.xxhash64("sh"), F.lit(_MERSENNE)).alias("h")
    aggs = [F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE)).alias(f"mh{i}")
            for i, (a, b) in enumerate(coefs)]
    agg = rows.select(id_col, h).groupBy(id_col).agg(*aggs)
    return agg.select(F.col(id_col),
                      F.array(*[f"mh{i}" for i in range(num_hashes)]).alias("signature"))


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by MinHash LSH: band the signature, bucket-join
    on (band_index, band_hash), estimate Jaccard as signature agreement,
    keep pairs with estimate >= threshold.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, deduplicated across
    bands.  Shuffle cost: one explode+groupBy on band buckets (candidate
    pairs only), never all-pairs.

    The signature table is consumed FOUR times (both band-join sides, both
    re-scoring joins) and Spark's exchange reuse does not fire across the
    differing consumers, so it is materialized once with an eager
    ``localCheckpoint`` (~0.5 KB/doc — far smaller than re-running the
    shingle aggregation 4x).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, k, num_hashes, seed) \
        .localCheckpoint(eager=True)
    # candidate generation over bare (id, band, hash) rows: the band
    # self-join exchange carries 3 scalars per row, never the signature
    # array (which would be duplicated `bands` times through the shuffle);
    # signatures are joined back only onto the deduplicated candidates
    banded = sig.select(
        id_col,
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda bi: F.hash(F.slice("signature", bi * r + 1, r)),
        )).alias("band_idx", "band_hash"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(right, on=[F.col("l.band_idx") == F.col("r.band_idx"),
                             F.col("l.band_hash") == F.col("r.band_hash"),
                             F.col(f"l.{id_col}") < F.col(f"r.{id_col}")])
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    cand = cand.join(sa, "id_a").join(sb, "id_b")
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                            lambda m: m))
    est = agree.cast("double") / F.lit(float(num_hashes))
    return (cand.withColumn("est_jaccard", est)
            .filter(F.col("est_jaccard") >= threshold)
            .select("id_a", "id_b", "est_jaccard"))


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    strategy: str = "arrow",
) -> DataFrame:
    """64-bit SimHash per document from word-token hashes: bit_i = sign of
    Σ_tokens (±1 depending on bit i of xxhash64(token)).  Output:
    ``id_col``, ``simhash`` (long); tokenless documents get simhash 0.
    Both strategies produce bit-identical hashes (for unique ``id_col``
    values; the agg path merges duplicate ids, the arrow path keeps one
    output row per input row).

    ``strategy="arrow"`` (default) is MAP-ONLY — zero shuffles: token
    hashes as one codegen array expression, then one Arrow-batched numpy
    ``unpackbits`` + ``add.reduceat`` per batch.  ``strategy="agg"`` is the
    explode + 64-conditional-sum groupBy (map-side partial, but still a
    corpus-wide exchange plus 64 agg buffers per group); measured 4x
    slower at sf0.1 (2.3 s vs 0.5 s)."""
    if strategy not in ("arrow", "agg"):
        raise ValueError(f"strategy must be arrow/agg, got {strategy!r}")
    if strategy == "arrow":
        if bits != 64:
            raise ValueError("strategy='arrow' supports bits=64 only")
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T
        from pyspark.sql.functions import pandas_udf

        shifts = np.arange(64, dtype=np.uint64)

        @pandas_udf(T.LongType())
        def pack_udf(harrs):
            n = len(harrs)
            lens = np.fromiter((len(x) for x in harrs), dtype=np.int64, count=n)
            packed = np.zeros(n, dtype=np.int64)
            nz = np.flatnonzero(lens)
            if len(nz):
                flat = np.concatenate(
                    [np.asarray(harrs.iat[i], dtype=np.int64) for i in nz])
                # bit j of each hash, little-endian: x86 int64 bytes are
                # little-endian, so unpackbits(bitorder='little') yields
                # column j == (h >> j) & 1
                u8 = flat.view(np.uint8).reshape(-1, 8)
                bcols = np.unpackbits(u8, axis=1, bitorder="little")
                starts = np.zeros(len(nz), dtype=np.int64)
                np.cumsum(lens[nz[:-1]], out=starts[1:])
                ones = np.add.reduceat(bcols.astype(np.int64), starts, axis=0)
                # sign of Σ±1 = 2*ones - n_tokens > 0
                sign = (2 * ones > lens[nz, None]).astype(np.uint64)
                packed[nz] = (sign << shifts).sum(axis=1).view(np.int64)
            return pd.Series(packed)

        # NULL text tokenizes to a NULL array (delivered to Arrow as None);
        # coalesce to empty so NULL documents hit the documented
        # "tokenless -> simhash 0" contract instead of a len(None) crash
        hs = F.coalesce(
            F.transform(_tokens(text_col), lambda t: F.xxhash64(t)),
            F.array().cast("array<bigint>"))
        base = ensure_min_partitions(df.select(F.col(id_col), F.col(text_col)))
        return base.select(F.col(id_col), pack_udf(hs).alias("simhash"))

    toks = _tokens(text_col)
    rows = df.select(F.col(id_col), F.explode(toks).alias("tok")) \
             .select(id_col, F.xxhash64("tok").alias("h"))
    aggs = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = rows.groupBy(id_col).agg(*aggs)
    sim = F.lit(0).cast("long")
    for i in range(bits):
        sim = sim.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i))
             .otherwise(F.lit(0).cast("long")))
    packed = agg.select(F.col(id_col), sim.alias("simhash"))
    # keep one row per input id (tokenless docs -> 0), like the array form.
    # Tokenless docs are re-injected by UNION of the (tiny) empty-token
    # subset — not a distinct + join-back over the FULL corpus, which cost
    # an extra corpus-wide exchange for rows that almost never exist.
    # coalesce: size(NULL array) is NULL, and NULL-text docs must also land
    # in the simhash-0 re-inject (matching the arrow strategy bit-for-bit)
    empty = (df.filter(F.coalesce(F.size(toks), F.lit(0)) <= 0)
             .select(id_col).distinct()
             .withColumn("simhash", F.lit(0).cast("long")))
    return packed.unionByName(empty)


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming on 64-bit
    SimHash.  Pigeonhole candidate generation: split the hash into
    ``blocks`` 16-bit blocks; any pair within distance ``blocks-1`` shares
    at least one exact block → equi-join per block, then exact popcount
    verification.  Returns (id_a, id_b, hamming).

    Both self-join sides re-evaluate the signature aggregation (no
    exchange reuse fires), so the (id, simhash) table — 16 bytes/doc — is
    materialized once."""
    sh = simhash(df, text_col, id_col).localCheckpoint(eager=True)
    width = 64 // blocks
    blocked = sh.select(
        id_col, "simhash",
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), i * width).bitwiseAND(F.lit((1 << width) - 1))
            for i in range(blocks)
        ])).alias("block_idx", "block_val"),
    )
    l, r = blocked.alias("l"), blocked.alias("r")
    cand = (
        l.join(r, on=[F.col("l.block_idx") == F.col("r.block_idx"),
                      F.col("l.block_val") == F.col("r.block_val"),
                      F.col(f"l.{id_col}") < F.col(f"r.{id_col}")])
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"),
                F.col("l.simhash").alias("h_a"), F.col("r.simhash").alias("h_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (cand.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: Optional[int] = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity pairs (the oracle-checkable
    ground-truth for the MinHash estimate): explode distinct shingles,
    self-join on the shingle string, count common shingles, Jaccard =
    |A∩B| / (|A|+|B|-|A∩B|) >= threshold.

    ``max_doc_freq`` is the hot-shingle cap that makes the Σ freq² self-join
    survive a real corpus: shingles appearing in more than ``max_doc_freq``
    documents are removed from every document's shingle set BEFORE the join
    (standard MinHash/LSH practice — a shingle shared by thousands of
    documents carries no near-duplicate signal but contributes freq²
    candidate pairs, a quadratic blowup on one hot key).  Jaccard is then
    computed over the capped sets, which is the documented semantics (sizes
    shrink together with intersections).  ``None`` disables the cap.

    Scale note: with the cap, worst-case join cost is bounded by
    Σ min(freq, cap)² ≤ cap · Σ freq — linear in corpus size.
    Returns (id_a, id_b, jaccard)."""
    if max_doc_freq is None:
        # shingle-set size computed map-side inside shingle_rows (its
        # explode and the size read the same array) — no window, no
        # groupBy + join-back; the size rides through the self-join
        sh = shingle_rows(df, text_col, id_col, k, with_size=True)
        l, r = sh.alias("l"), sh.alias("r")
        common = (
            l.join(r, on=[F.col("l.sh") == F.col("r.sh"),
                          F.col(f"l.{id_col}") < F.col(f"r.{id_col}")])
            .groupBy(F.col(f"l.{id_col}").alias("id_a"),
                     F.col(f"r.{id_col}").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_common"),
                 F.first(F.col("l.__n__")).alias("n_a"),
                 F.first(F.col("r.__n__")).alias("n_b"))
        )
    else:
        # capped branch: the document-frequency window leaves sh
        # partitioned by SHINGLE — exactly what the self-join needs — and a
        # post-cap recount by id would break that layout (two extra full
        # exchanges of the shingle table per join side).  Sizes over the
        # capped sets (the documented Jaccard semantics) instead come from
        # a small map-side-combinable groupBy joined onto the
        # already-reduced pair set.
        sh = shingle_rows(df, text_col, id_col, k)
        from ..util import materialization_gate
        if materialization_gate(df.select(id_col, text_col)):
            # SKEW-SAFE scale leg (same pattern as _dup_window_starts):
            # the analytic doc-freq count sends every occurrence of one
            # hot shingle to a single window task BEFORE the cap can drop
            # it — the exact rows the cap exists to protect against are
            # the ones that straggle/OOM the counting task.  Past the
            # gate, checkpoint the shingle rows once (DISK_ONLY), count
            # with a map-side-combinable groupBy, and remove hot shingles
            # with a left_anti join (the hot set is the small side; the
            # join is AQE-skew-splittable where a window partition never
            # is).
            from pyspark import StorageLevel
            sh = sh.localCheckpoint(eager=True,
                                    storageLevel=StorageLevel.DISK_ONLY)
            hot = (sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df__"))
                   .filter(F.col("__df__") > max_doc_freq).select("sh"))
            sh = sh.join(hot, "sh", "left_anti")
        else:
            wdf = Window.partitionBy("sh")
            sh = (sh.withColumn("__df__", F.count(F.lit(1)).over(wdf))
                  .filter(F.col("__df__") <= max_doc_freq).drop("__df__"))
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n__"))
        l, r = sh.alias("l"), sh.alias("r")
        common = (
            l.join(r, on=[F.col("l.sh") == F.col("r.sh"),
                          F.col(f"l.{id_col}") < F.col(f"r.{id_col}")])
            .groupBy(F.col(f"l.{id_col}").alias("id_a"),
                     F.col(f"r.{id_col}").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__n__").alias("n_a"))
        sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n__").alias("n_b"))
        common = common.join(sa, "id_a").join(sb, "id_b")
    jac = F.col("n_common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (common.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    nodes: Optional[DataFrame] = None,
    node_col: Optional[str] = None,
    max_iterations: int = 30,
) -> DataFrame:
    """Connected components of the undirected near-duplicate graph: the
    missing last step of every dedup pipeline — pair lists
    (``minhash_near_dup_pairs`` / ``simhash_near_dup_pairs`` /
    ``ngram_jaccard_pairs`` / ``embedding_near_dup_pairs``) only say *which
    pairs* collide; keeping one document per duplicate CLUSTER needs the
    transitive closure.

    Returns ``(id, cluster_id)`` where ``cluster_id`` is the smallest node
    id in the component.  ``nodes``/``node_col`` optionally supplies the
    full node universe (e.g. every ``doc_id``) so isolated documents appear
    as singleton clusters; otherwise only ids occurring in ``pairs`` are
    labeled.

    Algorithm: iterative min-label propagation with pointer jumping
    (label(u) ← min over N(u) of label, then label(u) ← label(label(u))).
    The jump halves label-chain depth each round, so convergence takes
    O(log d) rounds for diameter d — near-dup graphs are dense clusters with
    tiny diameters, so 1-3 advancing rounds in practice; ``max_iterations``
    bounds the adversarial case: if a node can still improve after that
    many advancing rounds, this raises ``RuntimeError`` instead of
    returning unconverged labels.  Per round: one map-side-combinable
    min-aggregate on the edge list (checkpointed — it feeds both the
    convergence probe and the label update), a limit-1 stability probe,
    and — only when a node can still improve — two label-table
    equi-joins; all shuffles are on the node-id key, AQE-coalescible, and
    the edge list (checkpointed once) never re-shuffles.  The probe is
    sufficient: one-hop stability forces labels constant per component at
    the component minimum, so the converged case (including the common
    seed-already-converged shape) never rebuilds a label table.  Lineage
    is truncated every round with ``localCheckpoint`` (mandatory for
    iterative Spark: an un-truncated loop re-executes every prior round
    per action and overflows the planner), and each round's blocks are
    released deterministically.  Driver-side state is one scalar count
    per round — nothing proportional to data size.
    """
    if max_iterations < 1:
        raise ValueError("max_iterations must be >= 1")
    edges = (pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
             .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v"))))
    edges = edges.localCheckpoint(eager=True)
    # node universe: edges are symmetric, so the u side alone covers every
    # paired id; no pre-distinct — the seed groupBy below dedups for free
    # (a distinct here would be a redundant extra shuffle of the node set)
    node_ids = edges.select(F.col("u").alias("id"))
    if nodes is not None:
        nc = node_col or nodes.columns[0]
        node_ids = node_ids.union(nodes.select(F.col(nc).alias("id")))
    # seed with the one-hop minimum (min of self and direct neighbors):
    # shallow clusters — the common near-dup shape — are then already
    # converged and the loop exits on its first (cheap) probe
    labels = (node_ids.select("id", F.col("id").alias("cluster_id"))
              .union(edges.select(F.col("u").alias("id"),
                                  F.col("v").alias("cluster_id")))
              .groupBy("id").agg(F.min("cluster_id").alias("cluster_id"))
              .localCheckpoint(eager=True))
    from ..util import release_local_checkpoint
    for it in range(max_iterations + 1):
        # one-hop neighbor minimum, checkpointed once per round: both
        # the convergence probe and (when advancing) the label update
        # read it, so the edge-sized join+aggregate runs exactly once
        nbr = (edges.join(labels.select(F.col("id").alias("v"),
                                        F.col("cluster_id").alias("nl")), "v")
               .groupBy(F.col("u").alias("id"))
               .agg(F.min("nl").alias("nbr_min"))
               .localCheckpoint(eager=True))
        # convergence probe (r14): labels are final iff NO node can
        # improve from a neighbor.  Pre-propagation stability forces
        # l(u) = l(v) across every edge, so labels are constant per
        # component; the constant is a component node id c with
        # l(c) = c and l(w) <= w, hence c = the component minimum and
        # the pointer jump is a no-op too.  The r13 loop paid a full
        # verification round (label rebuild + jump join + label-table
        # checkpoint + count) to discover this; the probe is one
        # limit-1 count over two checkpointed tables — the common
        # seed-converged shape never builds a second label table.
        improving = (nbr.join(labels, "id")
                     .filter(F.col("nbr_min") < F.col("cluster_id"))
                     .limit(1).count())
        if improving == 0:
            release_local_checkpoint(nbr)
            break
        if it == max_iterations:
            # the extra round only probes: unconverged labels would be a
            # plausible wrong clustering, so they are never returned
            for df in (nbr, labels, edges):
                release_local_checkpoint(df)
            raise RuntimeError(
                f"connected_components did not converge in "
                f"max_iterations={max_iterations} rounds")
        new = (labels.join(nbr, "id", "left")
               .select("id", F.least("cluster_id",
                                     F.coalesce("nbr_min", "cluster_id"))
                       .alias("cluster_id")))
        # pointer jump: cluster_id is itself a node id, so chase one hop
        # (halves label-chain depth per round; both sides of the self-
        # join read the checkpointed nbr/labels, never the edge list)
        lookup = new.select(F.col("id").alias("cluster_id"),
                            F.col("cluster_id").alias("jump"))
        new = (new.join(lookup, "cluster_id", "left")
               .select("id",
                       F.least("cluster_id", F.coalesce("jump", "cluster_id"))
                       .alias("cluster_id"))
               .localCheckpoint(eager=True))
        labels, prev = new, labels
        release_local_checkpoint(prev)
        release_local_checkpoint(nbr)
    release_local_checkpoint(edges)
    return labels


def near_dup_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    mode: str = "mark",
    max_iterations: int = 30,
) -> DataFrame:
    """End-to-end near-duplicate removal: cluster the pair graph with
    ``connected_components`` (isolated rows come back as singleton
    clusters) and keep the smallest-id document per cluster.

    ``mode="mark"`` adds ``cluster_id`` and ``is_duplicate``
    (true unless the row is its cluster's canonical, i.e. minimum, id);
    ``mode="drop"`` returns only canonical rows.  The canonical-per-cluster
    rule is ``id == cluster_id`` — no extra reduction needed, because
    ``cluster_id`` IS the component minimum.

    The component computation runs over PAIRED ids only — the corpus
    does NOT ride through the label-propagation rounds: an unpaired row
    is by definition its own singleton cluster, and the final left join's
    ``coalesce(cluster_id, id)`` labels it identically to carrying it
    through every round.  On a typical corpus duplicates are a small
    fraction, so each CC round's label table, joins and checkpoints
    shrink from O(corpus) to O(paired docs) — the rounds' cost scales
    with the duplicate graph, not the corpus (guide §2.3: shuffle the
    proxy, not the payload).
    """
    if mode not in ("mark", "drop"):
        raise ValueError(f"mode must be mark/drop, got {mode!r}")
    comp = connected_components(pairs, id_a, id_b,
                                max_iterations=max_iterations)
    out = (df.join(comp.select(F.col("id").alias(id_col), "cluster_id"),
                   id_col, "left")
           .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
           .withColumn("is_duplicate", F.col(id_col) != F.col("cluster_id")))
    if mode == "drop":
        out = out.filter(~F.col("is_duplicate")).drop("is_duplicate")
    return out


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: Optional[str] = None,
    bench_id_col: Optional[str] = None,
    n: int = 8,
    min_hits: int = 1,
    mode: str = "mark",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: find corpus documents that share at least
    ``min_hits`` distinct word ``n``-grams with ANY benchmark/eval document
    — the standard guard against evaluation contamination in training-data
    pipelines (13-gram overlap in GPT-3's cleaning, 10-gram in The Pile's).

    Plan shape (the scale path): both sides shingle MAP-ONLY
    (``shingle_rows``); the benchmark's shingle set is deduplicated across
    its documents (one small aggregation — eval sets are tiny next to the
    corpus) and broadcast, so the corpus side joins without ANY shuffle of
    its shingle stream; the per-document hit count is then a
    map-side-combinable groupBy on ``id_col``.  Total cost: one broadcast +
    two combinable aggregations, never a corpus-wide repartition by
    shingle.  Set ``broadcast_benchmark=False`` for a benchmark too large
    to broadcast (falls back to a shuffled equi-join on the shingle).

    ``mode="mark"`` returns ``corpus`` plus ``n_hits`` (distinct shared
    n-grams) and ``contaminated``; ``mode="drop"`` returns only clean rows.
    """
    if mode not in ("mark", "drop"):
        raise ValueError(f"mode must be mark/drop, got {mode!r}")
    if min_hits < 1:
        raise ValueError("min_hits must be >= 1")
    bt = bench_text_col or text_col
    bi = bench_id_col or id_col
    bench_sh = (shingle_rows(benchmark, bt, bi, n)
                .select("sh").distinct())
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    corp_sh = shingle_rows(corpus, text_col, id_col, n)
    hits = (corp_sh.join(bench_sh, "sh")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hits")))  # corp_sh rows are distinct per doc
    out = (corpus.join(hits, id_col, "left")
           .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)))
           .withColumn("contaminated", F.col("n_hits") >= min_hits))
    if mode == "drop":
        out = out.filter(~F.col("contaminated")).drop("contaminated", "n_hits")
    return out


def minhash_cross_dup_pairs(
    corpus: DataFrame,
    other: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    other_text_col: str | None = None,
    other_id_col: str | None = None,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    broadcast_other: bool = True,
) -> DataFrame:
    """CROSS-corpus near-duplicate pairs by MinHash LSH: corpus documents
    whose estimated Jaccard against some ``other``-corpus document (an eval
    set, an earlier training mix, a licensed subset) reaches ``threshold``
    — the fuzzy complement to ``decontaminate``'s exact n-gram overlap.

    Same banding scheme and seed as ``minhash_near_dup_pairs``, so the two
    corpora bucket identically.  ``other`` is usually small: its banded
    signatures and its signature table are BROADCAST
    (``broadcast_other``), making candidate generation and re-scoring a
    single corpus scan with no corpus shuffle beyond the signature
    aggregation.  Returns (corpus_id, other_id, est_jaccard).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    ot = other_text_col or text_col
    oi = other_id_col or id_col

    def banded(sig, idc):
        return sig.select(
            F.col(idc),
            F.posexplode(F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.hash(F.slice("signature", bi * r + 1, r)),
            )).alias("band_idx", "band_hash"),
        )

    # the corpus signature table feeds both the band join and the
    # re-scoring join; materialize it once (~0.5 KB/doc)
    sig_c = minhash_signatures(corpus, text_col, id_col, k, num_hashes,
                               seed).localCheckpoint(eager=True)
    sig_o_full = minhash_signatures(other, ot, oi, k, num_hashes, seed) \
        .withColumnRenamed(oi, "other_id")
    bc = banded(sig_c, id_col).withColumnRenamed(id_col, "corpus_id")
    bo = banded(sig_o_full, "other_id")
    sig_o = sig_o_full.select("other_id", F.col("signature").alias("sig_o"))
    if broadcast_other:
        bo, sig_o = F.broadcast(bo), F.broadcast(sig_o)
    cand = (bc.join(bo, ["band_idx", "band_hash"])
            .select("corpus_id", "other_id")
            .dropDuplicates(["corpus_id", "other_id"]))
    sc = sig_c.select(F.col(id_col).alias("corpus_id"),
                      F.col("signature").alias("sig_c"))
    cand = cand.join(sc, "corpus_id").join(sig_o, "other_id")
    agree = F.size(F.filter(F.zip_with("sig_c", "sig_o", lambda x, y: x == y),
                            lambda m: m))
    est = agree.cast("double") / F.lit(float(num_hashes))
    return (cand.withColumn("est_jaccard", est)
            .filter(F.col("est_jaccard") >= threshold)
            .select("corpus_id", "other_id", "est_jaccard"))


def exact_substring_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 16,
    min_count: int = 2,
) -> DataFrame:
    """SUBSTRING-level duplication statistics (the ExactSubstr signal of
    Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): document-level dedup misses boilerplate that repeats INSIDE
    otherwise-distinct documents — license headers, navigation chrome,
    templated paragraphs.  This operator finds every ``width``-token
    window whose token sequence occurs at least ``min_count`` times
    across the whole corpus (including self-repetition within one
    document) and reports, per document, how many of its tokens are
    covered by such duplicated windows.

    Returns ``(id_col, n_tokens, n_dup_tokens, dup_fraction)`` for every
    document with at least one token; documents shorter than ``width``
    contribute no windows and score 0.

    Plan (the 100 TB shape): window HASHES are built map-side inside one
    codegen ``transform`` over the token array (one xxhash64 per start
    position — the token array is never replicated per window), so the
    only per-window data that ever shuffles is (id, start, hash64).  One
    count shuffle on the hash finds globally duplicated windows; one
    equi-join on the hash brings the verdict back; the per-document
    coverage is an interval-union fold (``F.aggregate``) over each
    document's sorted duplicated starts — arrays bounded by document
    length, never corpus-sized.  Hashing risks one 64-bit collision per
    ~2^32 distinct windows (two different windows counted as one) — the
    standard ExactSubstr trade; group on the substring itself if that is
    unacceptable.
    """
    if width < 1 or min_count < 2:
        raise ValueError("width must be >= 1 and min_count >= 2")
    base, dup_starts = _dup_window_starts(df, text_col, id_col, width,
                                          min_count)
    # interval-union fold over sorted starts: each start covers
    # [s, s+width); overlapping/adjacent windows must not double-count
    covered = F.aggregate(
        "__ss__",
        F.struct(F.lit(0).cast("long").alias("cov"),
                 F.lit(0).cast("long").alias("end")),
        lambda acc, s: F.struct(
            (acc["cov"] + F.greatest(
                s + width - F.greatest(acc["end"], s.cast("long")),
                F.lit(0).cast("long"))).alias("cov"),
            F.greatest(acc["end"], (s + width).cast("long")).alias("end")),
        lambda acc: acc["cov"])
    out = (base.join(dup_starts, id_col, "left")
           .select(id_col,
                   F.col("__n__").cast("long").alias("n_tokens"),
                   F.coalesce(covered, F.lit(0)).cast("long")
                   .alias("n_dup_tokens")))
    return out.withColumn(
        "dup_fraction",
        F.round(F.col("n_dup_tokens") / F.col("n_tokens"), 6))


def _dup_window_starts(df, text_col, id_col, width, min_count):
    """Shared front half of the ExactSubstr operators: tokenized base
    frame plus, per document, the SORTED start positions of its
    corpus-wide duplicated ``width``-token windows.  Window hashes are
    built inside one codegen ``transform`` over the token array (the
    array is never replicated per window), so only (id, start, hash64)
    triples shuffle.  Below the shared materialization gate ONE exchange
    on the hash both counts each window's global frequency and keeps the
    duplicated rows (an analytic count over the hash partition — the r12
    formulation aggregated counts and semi-joined the verdict back,
    which re-ran the scan+tokenize+hash pass a second time for the join
    probe side: two corpus scans where one suffices, guide §2.4); past
    the gate the triples are checkpointed once and counted with a
    map-side-combinable groupBy + semi-join so a hot boilerplate window
    cannot pile every occurrence into one window task (guide §2.5)."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "),
                    lambda t: t != "")
    base = (df.select(F.col(id_col), toks.alias("__t__"))
            .withColumn("__n__", F.size("__t__"))
            .filter(F.col("__n__") >= 1))
    hashes = F.transform(
        F.sequence(F.lit(1), F.col("__n__") - width + 1),
        lambda s: F.xxhash64(F.concat_ws(" ", F.slice("__t__", s, width))))
    wins = (base.filter(F.col("__n__") >= width)
            .select(id_col, F.posexplode(hashes).alias("__p__", "__h__"))
            .select(id_col, (F.col("__p__") + 1).alias("__s__"), "__h__"))
    from ..util import materialization_gate
    if materialization_gate(df.select(id_col, text_col)):
        # SKEW-SAFE scale leg: under the analytic count every occurrence
        # of one window hash lands in a single window task with no
        # partial aggregation — a boilerplate window repeated across a
        # huge corpus is a straggler/OOM on one key.  Past the gate,
        # materialize the (id, start, hash) triples once (DISK_ONLY — a
        # spill file, not a pinned cache) and count with a map-side-
        # combinable groupBy instead; the verdict joins back as a
        # left_semi, which AQE's skew-join handling CAN split (it splits
        # joins, never window partitions).  Same single corpus scan; the
        # second exchange of the window stream is the price of bounding
        # per-task state by 1/P of the hot key instead of all of it.
        from pyspark import StorageLevel
        wins = wins.localCheckpoint(eager=True,
                                    storageLevel=StorageLevel.DISK_ONLY)
        hot = (wins.groupBy("__h__").agg(F.count(F.lit(1)).alias("__c__"))
               .filter(F.col("__c__") >= min_count).select("__h__"))
        dup = wins.join(hot, "__h__", "left_semi")
    else:
        # small inputs: ONE exchange does both the count and the keep
        # (the r13 single-scan plan); hot-key skew cannot hurt at sizes
        # below the gate
        wc = Window.partitionBy("__h__")
        dup = (wins.withColumn("__c__", F.count(F.lit(1)).over(wc))
               .filter(F.col("__c__") >= min_count).drop("__c__"))
    dup_starts = dup.groupBy(id_col).agg(
        F.sort_array(F.collect_list("__s__")).alias("__ss__"))
    return base, dup_starts


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 16,
    min_count: int = 2,
    out_col: str = "text_deduped",
) -> DataFrame:
    """ExactSubstr REMOVAL (Lee et al. 2021): drop every token covered by
    a corpus-wide duplicated ``width``-token window and re-join the
    survivors — the action behind :func:`exact_substring_stats`.  Like
    the paper, ALL occurrences of a duplicated span are removed.

    Returns ``(id_col, n_tokens, n_kept, out_col)`` for every document
    with at least one token.  ``out_col`` is lowercased and
    single-space-normalized (the tokenizer convention; reconstruction
    from tokens cannot preserve the original casing/whitespace).
    Documents with no duplicated spans keep all their tokens.

    The candidate pipeline is shared with the stats operator; the
    reconstruction is one Arrow ``mapInPandas`` over (tokens, duplicated
    starts) pairs — a numpy difference-array marks covered positions in
    O(n + spans) per document, no quadratic membership test.
    """
    import numpy as np
    import pandas as pd

    if width < 1 or min_count < 2:
        raise ValueError("width must be >= 1 and min_count >= 2")
    base, dup_starts = _dup_window_starts(df, text_col, id_col, width,
                                          min_count)
    joined = base.join(dup_starts, id_col, "left")
    id_t = df.schema[id_col].dataType.simpleString()
    schema = (f"`{id_col}` {id_t}, n_tokens long, n_kept long, "
              f"`{out_col}` string")

    def rebuild(batches):
        for pdf in batches:
            ids, n_toks, n_kept, texts = [], [], [], []
            for did, tok_arr, ss in zip(pdf[id_col], pdf["__t__"],
                                        pdf["__ss__"]):
                toks = list(tok_arr)
                n = len(toks)
                if ss is None or len(ss) == 0:
                    kept = toks
                else:
                    diff = np.zeros(n + 1, dtype=np.int64)
                    s = np.asarray(ss, dtype=np.int64) - 1   # 0-based
                    np.add.at(diff, s, 1)
                    np.add.at(diff, np.minimum(s + width, n), -1)
                    covered = np.cumsum(diff[:n]) > 0
                    kept = [t for t, c in zip(toks, covered) if not c]
                ids.append(did)
                n_toks.append(n)
                n_kept.append(len(kept))
                texts.append(" ".join(kept))
            yield pd.DataFrame({id_col: ids, "n_tokens": n_toks,
                                "n_kept": n_kept, out_col: texts})

    return joined.mapInPandas(rebuild, schema=schema)


def line_frequency_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 3,
    sep: str = "\n",
    min_line_chars: int = 1,
) -> DataFrame:
    """C4-style LINE-level deduplication (Raffel et al. 2020 §2.2; the
    same rule RefinedWeb and Gopher's repetition filters apply): remove
    every line that occurs at least ``min_count`` times across the WHOLE
    corpus — navigation bars, cookie banners, footer boilerplate — and
    reassemble each document from its surviving lines in order.
    Document-level dedup cannot see these (each document is unique);
    ``exact_substring_stats`` works on token windows, this on the
    natural line unit web text actually repeats.

    Lines shorter than ``min_line_chars`` (after the split; length in
    characters) are exempt from removal — C4 exempts short lines so
    legitimately common fragments (single words, numbers) survive.  The
    default of 1 exempts exactly the EMPTY line: in any real corpus the
    blank paragraph separator exceeds ``min_count``, and removing it
    would silently collapse paragraph structure corpus-wide.  Pass 0 to
    opt in to removing over-counted empty lines too.

    ``sep`` is treated as a LITERAL separator on both the split and the
    reassembly side (regex metacharacters in it are quoted before the
    split, which is regex-based underneath).

    Plan shape at 100 TB: one ``posexplode`` of the line split inside
    the scan (map-only), ONE map-side-combinable count shuffle on the
    64-bit line hash, one equi-join of the lines against the over-count
    hashes (the duplicated-line set can be corpus-sized, so it is a
    shuffle join, never a broadcast), and one ``groupBy(id)``
    reassembly via ``sort_array(collect_list(struct(pos, line)))`` —
    bounded by document length, the same reassembly contract as
    ``exact_substring_dedup``.  Counting happens on ``xxhash64`` of the
    line (8 bytes shuffled per line instead of the line itself); a hash
    collision could drop an innocent line — the cross-engine driver
    oracle counts exact STRINGS, so it doubles as the collision canary
    (same design as the ExactSubstr queries).

    Output: ``id_col``, the other input columns untouched, ``text_col``
    rewritten from the kept lines (empty string when every line was
    boilerplate), plus ``n_lines_removed``.  Rows with a null text pass
    through with ``n_lines_removed = 0``."""
    if min_count < 2:
        raise ValueError("min_count must be >= 2 (1 would drop everything)")
    for reserved in ("__pos__", "__line__", "__h__", "n_lines_removed"):
        if reserved in df.columns:
            raise ValueError(f"column {reserved!r} is reserved")
    # F.split takes a Java regex while F.array_join (the reassembly) is
    # literal — quote the separator (Pattern.quote semantics, incl. an
    # embedded \E) so both sides agree on any sep, not just "\n"
    sep_rx = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    lines = df.select(
        id_col,
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")),
                             sep_rx))
        .alias("__pos__", "__line__"))
    h = F.xxhash64("__line__")
    eligible = F.length("__line__") >= int(min_line_chars)
    over = (lines.filter(eligible)
            .groupBy(h.alias("__h__"))
            .agg(F.count(F.lit(1)).alias("__n__"))
            .filter(F.col("__n__") >= int(min_count))
            .select("__h__"))
    kept = (lines.join(over, eligible & (h == F.col("__h__")), "left_anti"))
    rebuilt = (kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct(
                    F.col("__pos__"), F.col("__line__")))),
                lambda s: s["__line__"]),
            sep).alias("__new_text__"),
        F.count(F.lit(1)).alias("__n_kept__")))
    n_lines = F.size(F.split(F.coalesce(F.col(text_col), F.lit("")),
                             sep_rx))
    out_cols = [c for c in df.columns if c != text_col]
    return (df.join(rebuilt, id_col, "left")
            .select(
                *out_cols,
                F.when(F.col(text_col).isNull(), None)
                 .otherwise(F.coalesce(F.col("__new_text__"), F.lit("")))
                 .alias(text_col),
                F.when(F.col(text_col).isNull(), F.lit(0))
                 .otherwise(n_lines - F.coalesce(F.col("__n_kept__"),
                                                 F.lit(0)))
                 .cast("long").alias("n_lines_removed")))

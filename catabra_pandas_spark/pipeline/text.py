"""Text analysis over document tables: tokenization stats, quality scoring,
language identification, fingerprinting.

Everything here is a pure JVM-side column expression (regexp / split /
array functions) — no UDFs — so it whole-stage-codegens and scales linearly
over a 100 TB documents table with zero shuffles (narrow transformations
only; each operator front-loads ``ensure_min_partitions``, a no-op at scale,
so an unsplittable small source still uses every core).  All definitions are
deliberately SQL-expressible so DuckDB oracles can replay them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..util import ensure_min_partitions

# languages x marker words for the n-gram/stopword language heuristic;
# chosen to be frequent, short, and mutually exclusive
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "that"],
    "de": ["der", "die", "und", "ist", "nicht", "das"],
    "fr": ["le", "la", "et", "les", "des", "une"],
    "es": ["el", "los", "las", "es", "una", "que"],
}

_EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
                 "that", "for", "on", "with", "as", "at", "by", "be", "this"]


def _tokens(text: Column) -> Column:
    """Whitespace tokens of the lowercased, punctuation-stripped text."""
    cleaned = F.trim(F.regexp_replace(F.lower(text), r"[^a-z0-9 ]", " "))
    return F.filter(F.split(cleaned, r" +"), lambda t: t != "")


def token_count(df: DataFrame, text_col: str = "text",
                out_col: str = "n_tokens") -> DataFrame:
    """Whitespace + punctuation-boundary token count (the BPE-ish regex
    tokenizer baseline for data-pipeline budgeting)."""
    df = ensure_min_partitions(df)
    return df.withColumn(out_col, F.size(_tokens(F.col(text_col))).cast("long"))


def token_count_bpe(df: DataFrame, text_col: str = "text",
                    out_col: str = "n_tokens_bpe",
                    chars_per_subword: int = 4) -> DataFrame:
    """BPE-ish subword token estimate (for LLM training-data budgeting,
    where whitespace counts undershoot): alphabetic runs contribute
    ``ceil(len / chars_per_subword)`` subwords (BPE merges average ~4
    chars/token on English), every digit is its own token (GPT-style
    digit splitting), and every other non-space symbol is one token.

    Pure JVM column expressions (regexp_extract_all + array aggregate) —
    narrow, zero-shuffle, SQL-replayable."""
    df = ensure_min_partitions(df)
    low = F.lower(F.col(text_col))
    words = F.regexp_extract_all(low, F.lit(r"[a-z]+"), 0)
    sub = F.aggregate(
        F.transform(words, lambda w: F.ceil(F.length(w) / F.lit(float(chars_per_subword))).cast("long")),
        F.lit(0).cast("long"), lambda a, x: a + x)
    digits = F.regexp_count(low, F.lit(r"[0-9]"))
    punct = F.regexp_count(low, F.lit(r"[^a-z0-9\s]"))
    return df.withColumn(out_col, (sub + digits + punct).cast("long"))


def text_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features: lengths, ratios, and a composite score.

    Adds: n_chars_q, n_tokens, avg_token_len, stopword_ratio, punct_ratio,
    digit_ratio, quality_score (all double; deterministic, SQL-replayable).
    """
    df = ensure_min_partitions(df)
    text = F.col(text_col)
    # stage the token array once: _tokens ends in a filter() HOF
    # (CodegenFallback, exempt from subexpression elimination), so letting
    # every ratio column inline it would re-tokenize the text per column
    df = df.withColumn("__toks__", _tokens(text))
    toks = F.col("__toks__")
    n_chars = F.length(text).cast("double")
    n_tokens = F.size(toks).cast("double")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(_EN_STOPWORDS))).cast("double")
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("double")
    n_digit = F.length(F.regexp_replace(text, r"[^0-9]", "")).cast("double")
    avg_tok = F.when(n_tokens > 0, (F.length(F.concat_ws("", toks)).cast("double")) / n_tokens).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, n_digit / n_chars).otherwise(F.lit(0.0))
    score = (
        F.when((n_tokens >= 10) & (n_tokens <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((avg_tok >= 3) & (avg_tok <= 12), F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when((stop_ratio >= 0.05) & (stop_ratio <= 0.6), F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.1, F.lit(0.1)).otherwise(F.lit(0.0))
        + F.when(digit_ratio <= 0.2, F.lit(0.1)).otherwise(F.lit(0.0))
    )
    return df.withColumns({
        "n_chars_q": n_chars,
        "n_tokens": n_tokens.cast("long"),
        "avg_token_len": avg_tok,
        "stopword_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "digit_ratio": digit_ratio,
        "quality_score": score,
    }).drop("__toks__")


def detect_language(df: DataFrame, text_col: str = "text",
                    out_col: str = "lang_pred") -> DataFrame:
    """Marker-word language heuristic: count hits of per-language stopword
    markers (word-boundary regex), pick the argmax, 'und' (undetermined) if
    no hits.  Deterministic tie-break by language code order en<de<fr<es."""
    df = ensure_min_partitions(df)
    text = F.lower(F.col(text_col))
    scores = []
    for lang, words in LANG_MARKERS.items():
        pat = r"\b(" + "|".join(words) + r")\b"
        scores.append((lang, F.regexp_count(text, F.lit(pat))))
    best_score = F.greatest(*[s for _, s in scores])
    pred = F.lit("und")
    # build reversed so earlier languages win ties
    for lang, s in reversed(scores):
        pred = F.when((s == best_score) & (best_score > 0), F.lit(lang)).otherwise(pred)
    return df.withColumn(out_col, pred)


def fingerprint(df: DataFrame, text_col: str = "text",
                out_col: str = "fingerprint") -> DataFrame:
    """Key-collision fingerprint: md5 of the sorted distinct token set of the
    normalized text (the classic OpenRefine "fingerprint" method) — equal
    fingerprints <=> same bag of words, robust to reordering/punctuation."""
    df = ensure_min_partitions(df)
    toks = _tokens(F.col(text_col))
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))
    return df.withColumn(out_col, F.md5(canon))


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    ngram_n: int = 2,
    line_sep: str = "\n",
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1), the standard
    filter for machine-generated / boilerplate text in training corpora.

    Adds (all computed per document):

    * ``n_lines`` — non-empty segments after splitting on ``line_sep``;
    * ``dup_line_frac`` — fraction of segments that are repeats of an
      earlier-identical segment (0.0 when every segment is unique);
    * ``dup_line_char_frac`` — fraction of segment characters contained in
      those repeated instances;
    * ``top_ngram`` — the most frequent word ``ngram_n``-gram (ties break to
      the lexicographically smallest; empty string for docs with no tokens);
    * ``top_ngram_char_frac`` — characters covered by all occurrences of
      ``top_ngram`` divided by the normalized-text character count.

    Entirely map-only: repeats are counted by sorting the per-document
    segment/shingle ARRAY and folding over adjacent runs with
    ``aggregate`` (struct accumulator) — no explode, no shuffle, linear in
    document length.  The folds are interpreted (HOFs are CodegenFallback),
    so they are staged to evaluate exactly once per row; a
    groupBy-per-(doc, gram) formulation would codegen but costs two
    corpus-wide exchanges for the same numbers.
    """
    df = ensure_min_partitions(df)
    text = F.col(text_col)

    def _dup_stats(arr):
        # arr sorted -> element i>0 is a repeat iff equal to element i-1
        srt = F.array_sort(arr)
        n = F.size(srt)
        prev = F.slice(srt, 1, F.greatest(n - 1, F.lit(0)))
        rest = F.slice(srt, 2, F.greatest(n - 1, F.lit(0)))
        dup_flags = F.zip_with(rest, prev, lambda a, b: F.struct(
            (a == b).cast("int").alias("d"),
            (F.when(a == b, F.length(a)).otherwise(F.lit(0))).alias("c")))
        dups = F.aggregate(dup_flags,
                           F.struct(F.lit(0).alias("d"), F.lit(0).alias("c")),
                           lambda acc, x: F.struct(
                               (acc["d"] + x["d"]).alias("d"),
                               (acc["c"] + x["c"]).alias("c")))
        return n, dups

    lines = F.filter(F.split(text, F.lit(line_sep).cast("string"), -1),
                     lambda s: F.trim(s) != "")
    n_lines, line_dups = _dup_stats(lines)
    line_chars = F.aggregate(lines, F.lit(0),
                             lambda acc, x: acc + F.length(x))

    # word n-grams WITH multiplicity (the token array bound once as a
    # lambda variable — see shingle_rows)
    toks = _tokens(text)

    def _mk(t):
        n = F.size(t)
        return F.when(n > F.lit(0), F.transform(
            F.sequence(F.lit(0), F.greatest(n - ngram_n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(t, i + 1, ngram_n)),
        )).otherwise(F.array().cast("array<string>"))

    grams = F.element_at(F.transform(F.array(toks), _mk), 1)

    # run-length fold over the sorted gram array: track current run and the
    # best (longest, first-seen = lexicographically smallest) run.  The new
    # run length is bound ONCE per element through a single-element
    # transform — HOF lambdas are interpreted (no codegen CSE), so
    # inlining the `when` into each of the three consumers re-evaluated it
    # three times per element (measured ~3x on the sf0.1 bench).
    def _merge(acc, x):
        r = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.element_at(F.transform(F.array(r), lambda rr: F.struct(
            x.alias("prev"), rr.alias("run"),
            F.when(rr > acc["best"], rr).otherwise(acc["best"]).alias("best"),
            F.when(rr > acc["best"], x).otherwise(acc["bestg"]).alias("bestg"),
        )), 1)

    best = F.aggregate(
        F.array_sort(grams),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best"), F.lit("").alias("bestg")),
        _merge,
    )
    norm_chars = F.length(F.concat_ws(" ", toks))

    # materialize each fold ONCE in an intermediate projection: the folds
    # are CodegenFallback expressions with no subexpression elimination, so
    # referencing `best` from two output columns would otherwise run the
    # whole sort+fold per reference (CollapseProject keeps the split
    # because duplicating non-cheap expressions is against its policy)
    staged = df.withColumns({
        "__nl__": n_lines, "__ld__": line_dups, "__lc__": line_chars,
        "__best__": best, "__nc__": norm_chars,
    })
    nl, ld = F.col("__nl__"), F.col("__ld__")
    lc, bs, nc = F.col("__lc__"), F.col("__best__"), F.col("__nc__")
    return staged.withColumns({
        "n_lines": nl.cast("long"),
        "dup_line_frac": F.when(nl > 0, ld["d"].cast("double") / nl.cast("double"))
                          .otherwise(F.lit(0.0)),
        "dup_line_char_frac": F.when(lc > 0, ld["c"].cast("double") / lc.cast("double"))
                               .otherwise(F.lit(0.0)),
        "top_ngram": bs["bestg"],
        "top_ngram_char_frac": F.when(
            nc > 0,
            (bs["best"] * F.length(bs["bestg"])).cast("double") / nc.cast("double"))
            .otherwise(F.lit(0.0)),
    }).drop("__nl__", "__ld__", "__lc__", "__best__", "__nc__")


# PII patterns: deliberately simple, deterministic, and SQL-replayable
# (RE2-free syntax, no lookarounds) so DuckDB oracles can replay them.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "phone": r"\+?[0-9][0-9 ()-]{7,}[0-9]",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
}


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_scrubbed",
    kinds: tuple = ("email", "ssn", "ipv4", "phone"),
    count_cols: bool = True,
) -> DataFrame:
    """Redact personally identifiable information: replace every match of
    the selected ``PII_PATTERNS`` with ``<KIND>`` placeholders and
    (optionally) count matches per kind — the standard pre-training scrub
    pass.  Pure ``regexp_replace`` / ``regexp_count`` column expressions:
    narrow, zero-shuffle, whole-stage-codegen, linear over 100 TB.

    Patterns are heuristics (as in real pipelines); swap in stricter ones
    via ``PII_PATTERNS`` if needed.  Kinds apply IN ORDER and each kind is
    counted on the text as already scrubbed by the previous kinds, so a
    span matching two patterns (an SSN also looks like a phone number) is
    redacted and counted exactly once, by the earliest listed kind —
    which is why the default order runs specific patterns before the
    greedy phone pattern.
    """
    df = ensure_min_partitions(df)
    out = F.col(text_col)
    counts = {}
    for kind in kinds:
        if kind not in PII_PATTERNS:
            raise ValueError(f"unknown PII kind {kind!r}")
        counts[f"n_{kind}"] = F.regexp_count(out, F.lit(PII_PATTERNS[kind]))
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    res = df.withColumn(out_col, out)
    if count_cols:
        res = res.withColumns(counts)
    return res


def apply_filters(
    df: DataFrame,
    rules: "dict[str, Column]",
    flags_col: str = "filter_flags",
    reasons_col: str = "filter_reasons",
    kept_col: str = "kept",
    mode: str = "mark",
) -> DataFrame:
    """Corpus quality gate with per-rule failure attribution — the
    C4/Gopher-style filter pass.  ``rules`` maps rule name -> a boolean
    Column that is TRUE when the row VIOLATES the rule.

    ``mode="mark"`` adds ``flags_col`` (bitmask, bit i = rule i in
    iteration order), ``reasons_col`` (array of violated rule names) and
    ``kept_col`` (no rule violated) — keeping rejected rows with their
    reasons is what lets a real pipeline audit its yield loss per rule
    before committing to a drop.  ``mode="drop"`` returns survivors only.

    Pure column expressions over whatever inputs the rules reference
    (compose with ``text_quality`` / ``repetition_stats`` /
    ``detect_language`` upstream): narrow, zero-shuffle, SQL-replayable.
    """
    if mode not in ("mark", "drop"):
        raise ValueError(f"mode must be mark/drop, got {mode!r}")
    if not rules:
        raise ValueError("rules must be non-empty")
    if len(rules) > 63:
        raise ValueError("at most 63 rules (bitmask is a signed long)")
    flags = F.lit(0).cast("long")
    reasons = []
    for i, (name, cond) in enumerate(rules.items()):
        hit = F.coalesce(cond.cast("boolean"), F.lit(False))
        flags = flags.bitwiseOR(F.when(hit, F.lit(1 << i)).otherwise(F.lit(0)).cast("long"))
        reasons.append(F.when(hit, F.lit(name)))
    out = df.withColumn(flags_col, flags)
    out = out.withColumn(
        reasons_col,
        F.filter(F.array(*reasons), lambda x: x.isNotNull()))
    out = out.withColumn(kept_col, F.col(flags_col) == 0)
    if mode == "drop":
        out = (out.filter(F.col(kept_col))
               .drop(flags_col, reasons_col, kept_col))
    return out


def train_ngram_lm(
    df: DataFrame,
    text_col: str = "text",
    max_vocab: int = 50_000,
    max_bigrams: int = 200_000,
) -> dict:
    """Train a capped bigram language model for CCNet-style perplexity
    filtering: documents whose LM perplexity is extreme (boilerplate,
    gibberish, wrong-language) are standard removals in large-scale
    training-data curation.

    Tokens = lowercased single-space split with empties dropped (the same
    convention as ``heavy_hitters``'s oracle, so the model is SQL-
    replayable).  Counts are the SUFFICIENT STATISTICS, gathered at
    scale in ONE corpus scan: unigram entries (``w2 = NULL``) and bigram entries (a
    map-only ``arrays_zip`` of the token array against its own shift —
    no window, no per-doc shuffle) explode into a single tagged key
    stream feeding one map-side-combinable count shuffle; the grouped
    counts (O(distinct keys), never corpus-sized) are cached and
    each table capped at the most frequent ``max_vocab`` /
    ``max_bigrams`` entries by one TakeOrdered job with deterministic
    ordering (count desc, token asc) — the rare tail beyond the cap
    scores as unseen, which is exactly what smoothing is for.  (The
    pre-r13 formulation paid two corpus scans — one per count table;
    the shuffle volume is the same, the scan+tokenize cost halves.)
    The retained tables are KBs-to-MBs however large the corpus; the
    driver never holds anything proportional to data size.

    Returns ``{"unigrams": {tok: n}, "bigrams": {(w1, w2): n}, "v": V}``
    with ``V`` = retained vocabulary size + 1 (the add-k denominator),
    ready for :func:`ngram_perplexity`.

    COST-GATED (r14, the shared ``materialization_gate``): below the
    gate the two count tables come from two NARROW scan+TakeOrdered
    jobs with no materialization — interleaved best-of-4 at sf0.1:
    two-scan 0.618 s vs tagged+checkpoint 0.745 s vs tagged+persist
    0.761 s vs tagged-unmaterialized 0.956 s, i.e. at small sizes any
    materialization of the grouped counts costs more than the extra
    cheap scan (VERDICT r13 item 2).  Past the gate the corpus
    scan+tokenize dominates and the single tagged scan + eager
    checkpoint wins (one corpus pass instead of two).  Both legs retain
    IDENTICAL entries: same counts, same deterministic (count desc,
    token asc) cap ordering.
    """
    from ..util import materialization_gate, release_local_checkpoint

    # The trainer's thresholds sit BELOW the shared defaults: the gate
    # sees document rows, but the materialized stream is tokens+bigrams
    # (~40-60 rows per doc), so the crossover arrives earlier.
    # Bracketing interleaved A/Bs (local[32]): 60k docs/sf0.1 two-scan
    # 0.618 s vs tagged+ckpt 0.745 s; 1M synthesized docs two-scan
    # 14.32 s vs 12.16 s — crossover between, log-midpoint ~250k docs
    # / ~8 MB of projected text.
    if not materialization_gate(df.select(text_col),
                                row_threshold=250_000,
                                size_threshold=8 << 20):
        return _lm_caps_two_scan(df, text_col, max_vocab, max_bigrams)
    grouped = _lm_grouped_counts(df, text_col, None)
    try:
        return _lm_collect_caps(grouped, max_vocab, max_bigrams, "n")
    finally:
        release_local_checkpoint(grouped)


def train_ngram_lm_pair(
    df: DataFrame,
    target_cond,
    text_col: str = "text",
    max_vocab: int = 50_000,
    max_bigrams: int = 200_000,
) -> tuple:
    """Train the TARGET-slice and RAW (whole-``df``) capped bigram LMs in
    ONE corpus scan — the DSIR shape (Xie et al. 2023: a target model
    over the in-domain slice, a raw model over the pool, both feeding
    :func:`dsir_logratio`).  ``target_cond`` is a boolean Column (or
    column name) selecting the target rows.

    Equivalent by construction to ``(train_ngram_lm(df.filter(cond)),
    train_ngram_lm(df))`` — the single count shuffle carries BOTH counts
    per key (``count(*)`` and the conditional target count), the grouped
    table is cached once, and each of the four capped tables is
    one TakeOrdered job over it with the same deterministic
    (count desc, token asc) ordering, so every retained entry and count
    is identical to the two-pass formulation (property-tested in
    tests/test_pipeline.py).  Two separate trainings pay four
    scan+tokenize passes; this pays one.

    Returns ``(target_model, raw_model)``.

    The pair trainer keeps the tagged-scan + eager-checkpoint shape at
    EVERY size (no gate): four capped tables amortize one
    materialization — interleaved best-of-4 at sf0.1: checkpoint
    0.850 s vs lazy persist 0.957 s vs unmaterialized 1.920 s, and two
    independent two-scan trainings would pay ~2x the single trainer's
    0.618 s.
    """
    from ..util import release_local_checkpoint

    cond = F.col(target_cond) if isinstance(target_cond, str) else target_cond
    grouped = _lm_grouped_counts(df, text_col, cond)
    try:
        target = _lm_collect_caps(grouped, max_vocab, max_bigrams, "nt")
        raw = _lm_collect_caps(grouped, max_vocab, max_bigrams, "n")
    finally:
        release_local_checkpoint(grouped)
    return target, raw


def _lm_caps_two_scan(df: DataFrame, text_col: str, max_vocab: int,
                      max_bigrams: int) -> dict:
    """Small-corpus leg of :func:`train_ngram_lm`: each capped table is
    one NARROW scan + map-side-combinable count + TakeOrdered job, no
    materialization — below the gate two cheap scans beat paying a
    checkpoint or cache build (measured; see the caller).  Retained
    entries are identical to the tagged-scan leg by construction (same
    counts, same deterministic cap ordering)."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "),
                    lambda t: t != "")
    base = df.select(toks.alias("__t__"))
    uni = (base.select(F.explode("__t__").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("n"))
           .orderBy(F.col("n").desc(), F.col("w").asc())
           .limit(max_vocab).collect())
    n = F.size("__t__")
    pairs = F.arrays_zip(F.slice("__t__", 1, n - 1).alias("w1"),
                         F.slice("__t__", 2, n - 1).alias("w2"))
    big = (base.filter(n >= 2)
           .select(F.explode(pairs).alias("p"))
           .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
           .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
           .orderBy(F.col("n").desc(), F.col("w1").asc(), F.col("w2").asc())
           .limit(max_bigrams).collect())
    unigrams = {r["w"]: int(r["n"]) for r in uni}
    return {"unigrams": unigrams,
            "bigrams": {(r["w1"], r["w2"]): int(r["n"]) for r in big},
            "v": len(unigrams) + 1}


def _lm_grouped_counts(df: DataFrame, text_col: str, target_cond):
    """Shared single-scan count job for :func:`train_ngram_lm` /
    :func:`train_ngram_lm_pair`: unigram (``w2 = NULL``) and bigram
    entries from one tokenize pass explode into one tagged key stream,
    grouped by one map-side-combinable count shuffle, eagerly
    checkpointed (the caller caps it with TakeOrdered jobs and must
    release it with ``util.release_local_checkpoint`` —
    ``Dataset.unpersist`` is a no-op for checkpoint blocks).  Eager
    localCheckpoint, not lazy persist: measured faster (interleaved
    best-of-4 at sf0.1, pair shape: 0.850 s vs 0.957 s — the columnar
    cache build costs more than the raw block write).  With
    ``target_cond`` an ``nt`` column carries the conditional count
    alongside ``n``."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "),
                    lambda t: t != "")
    cols = [toks.alias("__t__")]
    if target_cond is not None:
        cols.append(target_cond.cast("boolean").alias("__tgt__"))
    base = df.select(*cols)
    t = F.col("__t__")
    n = F.size(t)
    uni = F.transform(
        t, lambda w: F.struct(w.alias("w1"),
                              F.lit(None).cast("string").alias("w2")))
    pairs = F.when(n >= 2, F.arrays_zip(
        F.slice(t, 1, n - 1).alias("w1"),
        F.slice(t, 2, n - 1).alias("w2"))).otherwise(
        F.array().cast("array<struct<w1:string,w2:string>>"))
    kv = F.explode(F.concat(uni, pairs)).alias("__kv__")
    keep = ["__tgt__"] if target_cond is not None else []
    rows = (base.select(kv, *keep)
            .select(F.col("__kv__.w1").alias("w1"),
                    F.col("__kv__.w2").alias("w2"), *keep))
    aggs = [F.count(F.lit(1)).alias("n")]
    if target_cond is not None:
        aggs.append(F.count(F.when(F.col("__tgt__"), 1)).alias("nt"))
    return (rows.groupBy("w1", "w2").agg(*aggs)
            .localCheckpoint(eager=True))


def _lm_collect_caps(grouped, max_vocab: int, max_bigrams: int,
                     count_col: str) -> dict:
    """Cap one model's tables out of the cached grouped counts:
    two TakeOrdered jobs (top ``max_vocab`` unigrams / ``max_bigrams``
    bigrams by ``count_col`` desc, token asc — the deterministic
    ordering every oracle replays).  Zero-count keys (a key absent from
    the conditional slice) are excluded, matching a training run on the
    filtered input."""
    nc = F.col(count_col)
    uni = (grouped.filter(F.col("w2").isNull() & (nc > 0))
           .select("w1", nc.alias("n"))
           .orderBy(F.col("n").desc(), F.col("w1").asc())
           .limit(max_vocab).collect())
    big = (grouped.filter(F.col("w2").isNotNull() & (nc > 0))
           .select("w1", "w2", nc.alias("n"))
           .orderBy(F.col("n").desc(), F.col("w1").asc(), F.col("w2").asc())
           .limit(max_bigrams).collect())
    unigrams = {r["w1"]: int(r["n"]) for r in uni}
    return {"unigrams": unigrams,
            "bigrams": {(r["w1"], r["w2"]): int(r["n"]) for r in big},
            "v": len(unigrams) + 1}


def _prep_models(models):
    """Integer-keyed lookup structures for a set of
    :func:`train_ngram_lm` models, built ONCE per scoring task (never
    per Arrow batch).  Returns ``(vocab, prepped)`` where ``vocab`` is a
    ``pd.Index`` over every token any model knows (the SHARED id space —
    one string hash per batch token, however many models score it) and
    ``prepped[m] = (uni_arr, big_index, big_counts, v)``:

    * ``uni_arr`` — float64 unigram counts addressed by vocab id, with
      one extra trailing 0.0 slot so ``get_indexer``'s -1 (OOV) lands on
      count 0 via plain negative indexing;
    * ``big_index`` — int64 ``pd.Index`` of ``(id1+1)*(V+1)+(id2+1)``
      bigram keys (the +1 shift keeps OOV ids at key part 0, which no
      model bigram can occupy, so collisions are impossible);
    * ``big_counts`` — float64 counts aligned with ``big_index``."""
    import numpy as np
    import pandas as pd

    toks = set()
    for m in models:
        toks.update(m["unigrams"])
        for w1, w2 in m["bigrams"]:
            toks.add(w1)
            toks.add(w2)
    vocab = pd.Index(sorted(toks), dtype=object)
    vs = len(vocab)
    prepped = []
    for m in models:
        uni_arr = np.zeros(vs + 1, dtype=np.float64)
        if m["unigrams"]:
            pos = vocab.get_indexer(pd.Index(list(m["unigrams"])))
            uni_arr[pos] = np.fromiter(m["unigrams"].values(), "float64",
                                       len(m["unigrams"]))
        keys = np.fromiter(
            ((vocab.get_loc(w1) + 1) * (vs + 1) + vocab.get_loc(w2) + 1
             for w1, w2 in m["bigrams"]), "int64", len(m["bigrams"]))
        big_counts = np.fromiter(m["bigrams"].values(), "float64",
                                 len(m["bigrams"]))
        prepped.append((uni_arr, pd.Index(keys), big_counts,
                        float(m["v"])))
    return vocab, prepped


def _bigram_logprob_sums(tok_lists, vocab, prepped, k):
    """Per-document clamped add-``k`` bigram log-prob sums for one Arrow
    batch, vectorized: replaces the r12 per-bigram Python dict-lookup
    loop with ONE C-speed string ``get_indexer`` over the batch's flat
    token array (vocab ids) and one int64 ``get_indexer`` per model for
    the bigram counts, then a single numpy log/clamp expression;
    per-document sums use ``np.bincount``, which accumulates in array
    order — the same left-to-right summation as the old loop (``np.log``
    can differ from ``math.log`` by an ulp on SIMD builds; the scores
    are means of hundreds of such terms and every consumer — the
    6-decimal driver oracles, the perplexity ranks, the DSIR resample
    margins — sits many orders of magnitude above it).

    ``tok_lists``: per row a token list or None; rows with < 2 tokens
    get ``nb = 0``.  ``vocab``/``prepped``: from :func:`_prep_models`.
    Returns ``(nb, [sums_per_model])`` as arrays of batch length."""
    import numpy as np

    n = len(tok_lists)
    nb = np.zeros(n, dtype=np.int64)
    flat = []
    tc = []
    for i, tl in enumerate(tok_lists):
        if tl is not None and len(tl) >= 2:
            nb[i] = len(tl) - 1
            flat.extend(tl)
            tc.append(len(tl))
    idx = np.repeat(np.arange(n), nb)
    if not flat:
        zero = np.zeros(n, dtype=np.float64)
        return nb, [zero.copy() for _ in prepped]
    ids = vocab.get_indexer(np.asarray(flat, dtype=object))
    # drop the token pairs that straddle two documents
    keep = np.ones(len(flat) - 1, dtype=bool)
    keep[np.cumsum(tc)[:-1] - 1] = False
    vs1 = len(vocab) + 1
    i1, i2 = ids[:-1][keep], ids[1:][keep]
    bkeys = (i1 + 1).astype(np.int64) * vs1 + (i2 + 1)
    sums = []
    for uni_arr, big_index, big_counts, v in prepped:
        cu = uni_arr[i1]  # OOV id -1 -> the trailing 0.0 slot
        pos = big_index.get_indexer(bkeys)
        cb = np.where(pos >= 0, big_counts[np.maximum(pos, 0)], 0.0)
        # clamp at ln(1)=0: when the bigram cap retains a pair whose
        # first token fell OUTSIDE the unigram cap, (c(w1w2)+k)/(0+k*V)
        # can exceed 1 — not a probability
        lp = np.minimum(0.0, np.log((cb + k) / (cu + k * v)))
        sums.append(np.bincount(idx, weights=lp, minlength=n))
    return nb, sums


def _tokenize_batch(texts):
    """The shared-tokenization rule (lower, split on single spaces, drop
    empties) applied to one Arrow batch's text column; None stays None."""
    return [None if t is None
            else [x for x in t.lower().split(" ") if x] for t in texts]


def _score_bigrams(df, models, text_col, id_cols, out_col, k, combine):
    """The map-only scoring pass of ``ngram_perplexity`` and
    ``dsir_logratio``: broadcast the ``models``' count tables, score each
    Arrow batch with :func:`_bigram_logprob_sums`, and emit the
    ``id_cols``, ``n_bigrams`` and ``out_col = combine(sums, nb)`` for the
    rows with at least one bigram (``sums``: one log-prob sum array per
    model, in ``models`` order; ``nb``: the bigram counts)."""
    from typing import Iterator

    import pandas as pd

    id_cols = list(id_cols)
    bc = df.sparkSession.sparkContext.broadcast(
        [(m["unigrams"], m["bigrams"], float(m["v"])) for m in models])
    schema = ", ".join(
        [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in id_cols]
        + ["n_bigrams long", f"`{out_col}` double"])
    src = df.select(*id_cols, text_col)

    def mapper(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        vocab, prepped = _prep_models([
            {"unigrams": u, "bigrams": b, "v": v} for (u, b, v) in bc.value])
        for pdf in batches:
            nb, sums = _bigram_logprob_sums(
                _tokenize_batch(pdf[text_col]), vocab, prepped, k)
            valid = nb > 0
            out = pdf[id_cols].copy()[valid]
            out["n_bigrams"] = nb[valid]
            out[out_col] = combine([x[valid] for x in sums], nb[valid])
            yield out

    return src.mapInPandas(mapper, schema=schema)


def ngram_perplexity(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    id_cols=("doc_id",),
    out_col: str = "perplexity",
    k: float = 1.0,
) -> DataFrame:
    """Score documents with a :func:`train_ngram_lm` model: add-``k``
    smoothed bigram perplexity ``exp(-mean ln P(w2|w1))`` with
    ``P(w2|w1) = (c(w1 w2) + k) / (c(w1) + k·V)``, each per-bigram
    log-prob clamped at 0 so capped-count-table artifacts (a retained
    bigram whose first token missed the unigram cap) can never yield a
    "probability" above 1 or a perplexity below 1.

    MAP-ONLY: the count tables are broadcast (they are the whole model)
    and each Arrow batch scores its rows with vectorized count lookups
    (:func:`_bigram_logprob_sums` — one C-speed vocab-id ``get_indexer``
    over the flat token array + numpy log, not a per-token Python loop) — no shuffle at any
    corpus size, the same recipe as ``bpe_tokenize``.  Output: the
    ``id_cols`` plus ``n_bigrams`` and ``out_col``; documents with fewer
    than two tokens are omitted (no bigram to score — filter them with
    the quality gate instead).
    """
    def perplexity(sums, nb):
        import numpy as np

        return np.exp(-sums[0] / nb)

    return _score_bigrams(df, [model], text_col, id_cols, out_col, k,
                          perplexity)


def dsir_logratio(
    df: DataFrame,
    target_model: dict,
    raw_model: dict,
    text_col: str = "text",
    id_cols=("doc_id",),
    out_col: str = "dsir_logratio",
    k: float = 1.0,
) -> DataFrame:
    """Data Selection via Importance Resampling log-weights (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"), re-expressed on this engine's capped bigram LMs: each
    document's importance log-weight is its per-bigram MEAN add-``k``
    log-probability under the TARGET model minus under the RAW model —
    positive means "looks more like the target distribution than like
    the raw pool".  DSIR's hashed-n-gram features become the two
    :func:`train_ngram_lm` count tables (the same capped sufficient
    statistics, already engine-replayable); resample the corpus by
    feeding ``exp(logratio)``-proportional weights (or the logratio
    rank) to :func:`sampling.weighted_sample`.

    MAP-ONLY: BOTH count tables are broadcast and one Arrow pass scores
    each document under the two models simultaneously — zero shuffle,
    one corpus scan, however large the corpus (training the two models
    costs the usual two capped count shuffles each).  Scoring is
    vectorized (:func:`_bigram_logprob_sums` — shared vocab-id
    ``get_indexer`` lookups + numpy log, shared with ``ngram_perplexity``).  The per-bigram
    log-probs are clamped at 0 exactly like :func:`ngram_perplexity`
    (capped-table artifacts can push a "probability" above 1), so
    ``logratio == ln(perplexity_raw) - ln(perplexity_target)`` on shared
    tokenization — the property the cross-engine oracle replays.
    Documents with fewer than two tokens are omitted (no bigram to
    score — same contract as ``ngram_perplexity``).  Output: the
    ``id_cols`` plus ``n_bigrams`` and ``out_col``."""
    return _score_bigrams(
        df, [target_model, raw_model], text_col, id_cols, out_col, k,
        lambda sums, nb: (sums[0] - sums[1]) / nb)


def quantile_buckets(
    df: DataFrame,
    score_col: str,
    group_by=None,
    cuts=(1 / 3, 2 / 3),
    labels=("head", "middle", "tail"),
    out_col: str = "bucket",
) -> DataFrame:
    """Split a scored corpus into quality buckets at per-group score
    quantiles — CCNet's head/middle/tail perplexity split (Wenzek et al.
    2020 §4.3: thresholds from the per-LANGUAGE perplexity distribution,
    lower perplexity = head), usable on any numeric score.

    Thresholds are EXACT type-1 (inverse-ECDF) quantiles: the score at
    rank ``ceil(cut * n)`` within each group, so every engine that can
    rank reproduces them bit-for-bit — no interpolation, no sketch.
    Rows whose score is null/NaN get a null bucket; ties at a threshold
    all land in the lower bucket (``score <= t``).

    Plan shape at 100 TB: ONE distributed sort shuffle (two window
    functions over the same ``group_by`` partition spec: rank + group
    count — Spark's external sort spills, so no task ever buffers a
    group in memory, unlike ``percentile()``'s exact aggregation
    buffer), a conditional aggregation down to one row per group, and a
    broadcast join of that O(#groups) threshold table back onto the
    corpus (map-only).  KEYLESS input is one global group, which funnels
    the ranked scores through a single sort task — the inherent cost of
    an exact global quantile; pass ``group_by`` on large corpora (the
    per-language split is the published use anyway) or take approximate
    global thresholds from ``sketches.quantile_sketch`` first."""
    from pyspark.sql import Window

    from ..util import as_list

    cuts = list(cuts)
    labels = list(labels)
    if len(labels) != len(cuts) + 1:
        raise ValueError("need exactly len(cuts)+1 labels")
    if any(not (0.0 < c < 1.0) for c in cuts) or \
            sorted(set(cuts)) != cuts:
        raise ValueError("cuts must be strictly increasing in (0, 1)")
    if out_col in df.columns:
        raise ValueError(f"column {out_col!r} already exists")
    groups = as_list(group_by) if group_by is not None else []
    s = F.col(score_col).cast("double")
    valid = s.isNotNull() & ~F.isnan(s)
    w = (Window.partitionBy(*[F.col(g) for g in groups])
         if groups else Window.partitionBy())
    ranked = (df.select(*groups, s.alias("__s__"))
              .filter(valid)
              .withColumn("__rn__",
                          F.row_number().over(w.orderBy(F.col("__s__"))))
              .withColumn("__n__", F.count(F.lit(1)).over(w)))
    thr_aggs = [
        F.max(F.when(F.col("__rn__")
                     == F.ceil(F.lit(float(c)) * F.col("__n__")),
                     F.col("__s__"))).alias(f"__t{i}__")
        for i, c in enumerate(cuts)]
    thr = (ranked.groupBy(*groups).agg(*thr_aggs) if groups
           else ranked.agg(*thr_aggs))
    joined = (df.join(F.broadcast(thr), on=groups, how="left") if groups
              else df.crossJoin(F.broadcast(thr)))
    bucket = F.when(~valid, F.lit(None).cast("string"))
    for i, lab in enumerate(labels[:-1]):
        bucket = bucket.when(s <= F.col(f"__t{i}__"), F.lit(lab))
    bucket = bucket.otherwise(F.lit(labels[-1]))
    return joined.withColumn(out_col, bucket) \
        .drop(*[f"__t{i}__" for i in range(len(cuts))])


def strip_html(
    df: DataFrame,
    html_col: str = "text",
    out_col: str = "text",
) -> DataFrame:
    """Plain text from raw HTML — the extraction step every web-corpus
    pipeline runs before any quality/dedup stage (RefinedWeb, Penedo et
    al. 2023 §3.1 runs trafilatura; this is the engine-native regex
    core of that step: tag/script/style/comment removal + entity
    decoding + whitespace normalization, NOT a DOM parser — documented
    approximation, same spirit as the repo's other from-scratch
    codecs).

    Stages, each a single codegen regexp/replace (zero shuffle, scales
    linearly inside the scan):

    1. drop ``<script>``/``<style>`` elements wholesale (non-greedy
       dotall, case-insensitive) and ``<!-- comments -->``;
    2. block-level closers and ``<br>`` become NEWLINES (so
       line-structure survives for ``line_frequency_filter``), every
       other tag becomes a space;
    3. decode the six predefined entities + ``&nbsp;`` / ``&#39;``;
    4. collapse space runs, trim each line, collapse blank-line runs.

    Both regex dialects (Java here, RE2 in the DuckDB oracle) support
    the ``(?is)`` flags and non-greedy ``.*?`` used, so the definition
    replays exactly.
    """
    df = ensure_min_partitions(df)
    s = F.col(html_col)
    # CRLF/CR first: real-world HTML is mostly \r\n, and every later
    # whitespace stage speaks \n only
    s = F.regexp_replace(s, r"\r\n?", "\n")
    # two rules, not one with a backreference: the DuckDB oracle's RE2
    # dialect has no backreferences
    s = F.regexp_replace(s, r"(?is)<script\b[^>]*>.*?</script\s*>", " ")
    s = F.regexp_replace(s, r"(?is)<style\b[^>]*>.*?</style\s*>", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    s = F.regexp_replace(
        s, r"(?i)<(br\s*/?|/p|/div|/li|/h[1-6]|/tr|/table|/blockquote)>",
        "\n")
    s = F.regexp_replace(s, r"(?s)<[^>]*>", " ")
    for ent, ch in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", "\""), ("&#39;", "'"), ("&apos;", "'"),
                    ("&amp;", "&")):  # &amp; LAST: double-escaped stays
        s = F.replace(s, F.lit(ent), F.lit(ch))
    s = F.regexp_replace(s, r"[ \t]+", " ")
    s = F.regexp_replace(s, r" ?\n ?", "\n")
    s = F.regexp_replace(s, r"\n{2,}", "\n")
    # trim() strips only spaces in both engines — newlines need the regex
    s = F.regexp_replace(s, r"^[ \n]+|[ \n]+$", "")
    return df.withColumn(out_col, s)


# fixed Latin-1/Latin-Extended fold map for normalize_text: 1:1 char
# translation (the composed single-codepoint forms; combining marks are
# separately stripped) — deliberately a CLOSED list so the definition is
# engine-replayable, not locale- or ICU-dependent.  Alignment is
# unit-asserted: len(SRC) == len(DST), no duplicate sources, and the
# uppercase block folds consistently with the lowercase block
_ACCENT_SRC = ("àáâãäåāăąçćčèéêëēĕėęěìíîïĩīĭįñńňòóôõöøōŏőùúûüũūŭůűýÿžźż"
               "šśđďļľłŕřťţğÀÁÂÃÄÅĀĂĄÇĆČÈÉÊËĒĔĖĘĚÌÍÎÏĨĪĬĮÑŃŇÒÓÔÕÖØŌŎŐÙÚ"
               "ÛÜŨŪŬŮŰÝŸŽŹŻŠŚĐĎĻĽŁŔŘŤŢĞ")
_ACCENT_DST = ("aaaaaaaaaccceeeeeeeeeiiiiiiiinnnooooooooouuuuuuuuuyyzzz"
               "ssddlllrrttgAAAAAAAAACCCEEEEEEEEEIIIIIIIINNNOOOOOOOOOUU"
               "UUUUUUUYYZZZSSDDLLLRRTTG")


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_norm",
    lowercase: bool = True,
    accent_fold: bool = True,
    collapse_whitespace: bool = True,
) -> DataFrame:
    """Canonicalize text before exact/fuzzy dedup and fingerprinting —
    the step that makes "Café  Menu" and "cafe menu" hash
    identically: lowercase, fold accented Latin letters to ASCII (the
    fixed ``_ACCENT_SRC``/``_ACCENT_DST`` table + stripping combining
    diacritical marks U+0300-U+036F, so both composed and decomposed
    forms normalize alike), drop control characters, and collapse
    whitespace runs to single spaces.

    Pure codegen column expressions (translate + regexp_replace): zero
    shuffle, linear inside the scan, and a CLOSED definition — no ICU /
    locale dependence — so external engines replay it bit-for-bit.
    """
    df = ensure_min_partitions(df)
    s = F.col(text_col)
    if lowercase:
        s = F.lower(s)
    if accent_fold:
        src = _ACCENT_SRC.lower() if lowercase else _ACCENT_SRC
        dst = _ACCENT_DST.lower() if lowercase else _ACCENT_DST
        s = F.translate(s, src, dst)
        s = F.regexp_replace(s, r"[̀-ͯ]", "")
    # \x0b/\x0c are WHITESPACE (page/line separators): they become
    # spaces, not deletions — deleting would glue adjacent words, and
    # letting them reach the \s+ collapse would diverge cross-engine
    # (Java's \s includes \x0b, RE2's does not)
    s = F.regexp_replace(s, r"[\x0b\x0c]", " ")
    s = F.regexp_replace(s, r"[\x00-\x08\x0e-\x1f\x7f]", "")
    if collapse_whitespace:
        s = F.trim(F.regexp_replace(s, r"\s+", " "))
    return df.withColumn(out_col, s)

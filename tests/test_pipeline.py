from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from catabra_pandas_spark.pipeline import (
    attach_binary_metadata, cosine_topk, decode_binary, detect_language,
    embedding_near_dup_pairs, exact_dedup, fingerprint, lsh_cosine_topk,
    minhash_near_dup_pairs, ngram_jaccard_pairs, sample_frames,
    simhash_near_dup_pairs, text_quality, token_count,
)
from catabra_pandas_spark.sources import read_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return read_table(spark, SF, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return read_table(spark, SF, "embeddings")


def _with_planted_dups(spark, docs):
    """Append near-duplicates: exact copies and one-token mutations."""
    base = docs.limit(10).collect()
    rows = []
    for r in base:
        rows.append((10000 + r.doc_id, r.text, r.lang, "copy", len(r.text)))
        toks = r.text.split()
        toks[len(toks) // 2] = "zzz"
        rows.append((20000 + r.doc_id, " ".join(toks), r.lang, "mut", len(r.text)))
    extra = spark.createDataFrame(rows, schema=docs.schema)
    return docs.unionByName(extra)


def test_exact_dedup(spark, docs):
    d = _with_planted_dups(spark, docs)
    out = exact_dedup(d, columns=["text"], id_col="doc_id", mode="mark").toPandas()
    assert out.is_duplicate.sum() == 10  # the exact copies
    dropped = exact_dedup(d, columns=["text"], id_col="doc_id", mode="drop")
    assert dropped.count() == d.count() - 10
    # canonical row is the smallest doc_id
    dups = out[out.is_duplicate]
    assert (dups.doc_id >= 10000).all()


def test_ngram_jaccard_and_minhash(spark, docs):
    d = _with_planted_dups(spark, docs)
    exact = ngram_jaccard_pairs(d, k=3, threshold=0.5).toPandas()
    # all 10 exact copies found with jaccard 1.0
    copies = exact[(exact.id_b >= 10000) & (exact.id_b < 20000)
                   & (exact.id_a == exact.id_b - 10000)]
    assert len(copies) == 10 and np.allclose(copies.jaccard, 1.0)

    mh = minhash_near_dup_pairs(d, k=3, num_hashes=64, bands=16,
                                threshold=0.5).toPandas()
    mh_pairs = set(zip(mh.id_a, mh.id_b))
    # recall on exact copies must be perfect (identical signatures)
    for a in copies.id_a:
        assert (a, a + 10000) in mh_pairs
    # estimates of high-jaccard pairs should be close
    high = exact[exact.jaccard >= 0.8]
    found = sum((a, b) in mh_pairs for a, b in zip(high.id_a, high.id_b))
    assert found >= 0.8 * len(high)


def test_simhash_near_dups(spark, docs):
    d = _with_planted_dups(spark, docs)
    out = simhash_near_dup_pairs(d, max_hamming=3).toPandas()
    pairs = set(zip(out.id_a, out.id_b))
    # exact copies have identical simhash (hamming 0)
    for i in range(10):
        a = docs.limit(10).collect()[i].doc_id
        assert (a, a + 10000) in pairs
    assert (out.hamming <= 3).all()


def test_signature_strategies_identical(spark, docs):
    """arrow (map-only Arrow-batched numpy) and agg (explode + groupBy)
    must produce bit-identical signatures — they are physical strategies
    for one logical operator."""
    from catabra_pandas_spark.pipeline.dedup import minhash_signatures, simhash

    ma = {r.doc_id: r.signature
          for r in minhash_signatures(docs, strategy="arrow").collect()}
    mb = {r.doc_id: r.signature
          for r in minhash_signatures(docs, strategy="agg").collect()}
    assert ma == mb and len(ma) > 0
    sa = {r.doc_id: r.simhash for r in simhash(docs, strategy="arrow").collect()}
    sb = {r.doc_id: r.simhash for r in simhash(docs, strategy="agg").collect()}
    assert sa == sb and len(sa) > 0


def test_simhash_null_and_empty_text(spark):
    """NULL / empty / whitespace-only text must yield simhash 0 on BOTH
    strategies (arrow used to crash with len(None) on a NULL token array;
    agg used to silently drop such rows)."""
    from catabra_pandas_spark.pipeline.dedup import simhash

    d = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "real words here")],
        "doc_id int, text string")
    sa = {r.doc_id: r.simhash for r in simhash(d, strategy="arrow").collect()}
    sb = {r.doc_id: r.simhash for r in simhash(d, strategy="agg").collect()}
    assert sa == sb
    assert sa[1] == 0 and sa[2] == 0 and sa[3] == 0 and sa[4] != 0
    assert set(sa) == {1, 2, 3, 4}


def test_cosine_topk_exact(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk(queries, emb, k=5).toPandas()
    pdf = emb.toPandas()
    vecs = {r.vec_id: np.array(r.embedding, dtype=float) for r in pdf.itertuples()}
    for qid in range(5):
        q = vecs[qid]
        sims = sorted(
            ((np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v)), -i)
             for i, v in vecs.items() if i != qid), reverse=True)
        expect = [(-negi, round(s, 5)) for s, negi in sims[:5]]
        got = out[out.query_id == qid].sort_values("rank")
        assert list(got.neighbor_id) == [e[0] for e in expect]
        assert np.allclose(got.cosine_sim.round(5), [e[1] for e in expect], atol=1e-4)


def test_cosine_topk_nonbroadcast_matches(spark, emb):
    """broadcast_queries=False (shuffled-join path for unbroadcastable
    query sets) must equal the broadcast-probe matmul path exactly."""
    queries = emb.filter(F.col("vec_id") < 5)
    a = cosine_topk(queries, emb, k=5).toPandas()
    b = cosine_topk(queries, emb, k=5, broadcast_queries=False).toPandas()
    for df in (a, b):
        df["cosine_sim"] = df["cosine_sim"].round(9)
    from .conftest import assert_pdf_equal
    assert_pdf_equal(a, b, sort_by=["query_id", "rank"])


def test_lsh_cosine_topk_recall(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(queries, emb, k=3).toPandas()
    exact_set = set(zip(exact.query_id, exact.neighbor_id))
    # synthetic embeddings are near-random (top-3 cosine only ~0.4), the
    # hard case for LSH: selective 8-plane buckets need Hamming-1
    # multi-probe to keep recall
    approx = lsh_cosine_topk(queries, emb, k=3, dim=64, planes=8, tables=12,
                             probe_bits=1).toPandas()
    approx_set = set(zip(approx.query_id, approx.neighbor_id))
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"LSH recall too low: {recall}"
    # shuffle-join variant (large query sets) is result-identical
    shuf = lsh_cosine_topk(queries, emb, k=3, dim=64, planes=8, tables=12,
                           probe_bits=1, broadcast_queries=False).toPandas()
    assert set(zip(shuf.query_id, shuf.neighbor_id)) == approx_set


def test_ivf_cosine_topk(spark, emb):
    from catabra_pandas_spark.pipeline import ivf_cosine_topk

    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(queries, emb, k=3).toPandas()
    exact_set = set(zip(exact.query_id, exact.neighbor_id))
    approx = ivf_cosine_topk(queries, emb, k=3, n_centroids=16, n_probe=4).toPandas()
    approx_set = set(zip(approx.query_id, approx.neighbor_id))
    recall = len(exact_set & approx_set) / len(exact_set)
    # scans ~n_probe/n_centroids = 25% of the corpus; near-random vectors
    # are the worst case, so a modest floor
    assert recall >= 0.3, f"IVF recall too low: {recall}"
    # every reported neighbor must carry its true cosine (exact re-scoring)
    merged = approx.merge(exact, on=["query_id", "neighbor_id"],
                          suffixes=("_a", "_e"))
    assert np.allclose(merged.cosine_sim_a, merged.cosine_sim_e, atol=1e-9)


def test_embedding_near_dup(spark, emb):
    # plant a near-identical vector of vec_id 0
    first = emb.filter("vec_id = 0").collect()[0]
    v = [x + 0.001 for x in first.embedding]
    extra = spark.createDataFrame([(9000, v, first.label)], schema=emb.schema)
    out = embedding_near_dup_pairs(emb.unionByName(extra), threshold=0.99,
                                   dim=64, planes=6, tables=6).toPandas()
    assert ((out.id_a == 0) & (out.id_b == 9000)).any()


def test_text_ops(spark, docs):
    out = token_count(docs).toPandas()
    pdf = docs.toPandas()
    exp = pdf.text.str.lower().str.replace(r"[^a-z0-9 ]", " ", regex=True) \
        .str.split().str.len()
    exp.index = pdf.doc_id
    # token_count may repartition (ensure_min_partitions) -> row order is
    # not the input order; align by doc_id index
    got = out.set_index("doc_id").n_tokens.sort_index()
    assert (got == exp.sort_index()).all()

    q = text_quality(docs).toPandas()
    assert {"quality_score", "stopword_ratio", "punct_ratio"} <= set(q.columns)
    assert q.quality_score.between(0, 1).all()

    lang = detect_language(docs).toPandas()
    assert set(lang.lang_pred) <= {"en", "de", "fr", "es", "und"}

    fp = fingerprint(docs).toPandas()
    # reordering words leaves the fingerprint unchanged
    shuffled = docs.withColumn(
        "text", F.concat_ws(" ", F.reverse(F.split(F.col("text"), " "))))
    fp2 = fingerprint(shuffled).toPandas()
    assert (fp.sort_values("doc_id").fingerprint.values
            == fp2.sort_values("doc_id").fingerprint.values).all()


def test_apply_filters(spark, docs):
    from catabra_pandas_spark.pipeline.text import apply_filters, text_quality

    feats = text_quality(docs)
    rules = {"short": F.col("n_tokens") < 20,
             "digity": F.col("digit_ratio") > 0.1}
    out = apply_filters(feats, rules).toPandas()
    for r in out.itertuples():
        exp_flags = (1 if r.n_tokens < 20 else 0) | (2 if r.digit_ratio > 0.1 else 0)
        assert r.filter_flags == exp_flags
        assert r.kept == (exp_flags == 0)
        exp_reasons = [n for n, b in
                       [("short", r.n_tokens < 20), ("digity", r.digit_ratio > 0.1)] if b]
        assert list(r.filter_reasons) == exp_reasons
    dropped = apply_filters(feats, rules, mode="drop")
    assert dropped.count() == int((out.filter_flags == 0).sum())
    assert "filter_flags" not in dropped.columns


def test_mix_corpora(spark, docs):
    from catabra_pandas_spark.pipeline.sampling import mix_corpora

    corpora = {lang: docs.filter(F.col("lang") == lang)
               for lang in ("en", "de", "fr")}
    weights = {"en": 0.6, "de": 0.3, "fr": 0.1}
    out = mix_corpora(corpora, weights, n_total=100, on="doc_id",
                      seed=3).toPandas()
    counts = out.source.value_counts()
    assert counts["en"] == 60 and counts["de"] == 30 and counts["fr"] == 10
    # deterministic: a re-run draws the identical ids
    out2 = mix_corpora(corpora, weights, n_total=100, on="doc_id",
                       seed=3).toPandas()
    assert sorted(zip(out.source, out.doc_id)) == sorted(zip(out2.source, out2.doc_id))
    # different seed -> different draw (overwhelmingly)
    out3 = mix_corpora(corpora, weights, n_total=100, on="doc_id",
                       seed=4).toPandas()
    assert sorted(out.doc_id) != sorted(out3.doc_id)
    import pytest as _pt
    with _pt.raises(ValueError):
        mix_corpora(corpora, {"en": 1.0}, 10)


def test_multimodal_plumbing(spark, docs):
    # video/mp4 is a STUB format (image/png now decodes for real and
    # rejects non-PNG payloads — see test_codecs.py for the real path)
    d = docs.withColumn("payload", F.encode(F.col("text"), "utf-8"))
    d = attach_binary_metadata(d, "payload", modality="video", mime="video/mp4")
    row = d.select("media_meta").first()
    assert row.media_meta.modality == "video" and row.media_meta.width >= 1

    feats = decode_binary(d, "payload").toPandas()
    assert feats.features.map(len).eq(8).all()
    # deterministic: same payload -> same features
    f0 = decode_binary(d, "payload").toPandas()
    assert feats.features[0] == f0.features[0]

    frames = sample_frames(d.limit(5), every_n=7)
    pf = frames.toPandas()
    assert (pf.groupby("doc_id").frame_index.min() == 0).all()


def test_token_count_bpe(spark, docs):
    import math
    import re as _re

    from catabra_pandas_spark.pipeline import token_count_bpe

    out = token_count_bpe(docs).toPandas().set_index("doc_id").n_tokens_bpe
    pdf = docs.toPandas()
    for _, r in pdf.head(50).iterrows():
        low = r.text.lower()
        exp = (sum(math.ceil(len(w) / 4.0) for w in _re.findall(r"[a-z]+", low))
               + len(_re.findall(r"[0-9]", low))
               + len(_re.findall(r"[^a-z0-9\s]", low)))
        assert out[r.doc_id] == exp


def test_resize_image(spark):
    from catabra_pandas_spark.pipeline import resize_image

    rng = np.random.default_rng(22)
    px = rng.integers(0, 256, (6, 8, 3)).astype(np.uint8)
    ppm = b"P6\n8 6\n255\n" + px.tobytes()
    sdf = spark.createDataFrame(pd.DataFrame({"id": [0], "payload": [ppm]}))
    d = attach_binary_metadata(sdf, "payload", modality="image",
                               mime="image/x-portable-pixmap")
    out = resize_image(d, "payload", out_width=4, out_height=3).toPandas()
    resized = out.payload_resized[0]
    assert resized.startswith(b"P6\n4 3\n255\n")
    got = np.frombuffer(resized, dtype=np.uint8,
                        offset=len(b"P6\n4 3\n255\n")).reshape(3, 4, 3)
    ys = (np.arange(3) * 6) // 3
    xs = (np.arange(4) * 8) // 4
    assert (got == px[ys][:, xs]).all()
    # resized payload decodes through the same pcm/netpbm dispatch
    d2 = attach_binary_metadata(
        spark.createDataFrame(pd.DataFrame({"id": [0], "payload": [bytes(resized)]})),
        "payload", modality="image", mime="image/x-portable-pixmap")
    feats = decode_binary(d2, "payload").toPandas().features[0]
    assert feats[:3] == [4.0, 3.0, 3.0]


def test_multimodal_real_decoders(spark):
    """pcm16 and netpbm decoders recover exact byte-level content."""
    rng = np.random.default_rng(21)
    wave = rng.integers(-3000, 3000, 500).astype("<i2")
    # P6 RGB 4x3 image with a comment in the header
    px = rng.integers(0, 256, (3, 4, 3)).astype(np.uint8)
    ppm = b"P6\n# a comment\n4 3\n255\n" + px.tobytes()
    pdf = pd.DataFrame({
        "id": [0, 1],
        "payload": [wave.tobytes(), ppm],
        "mime": ["audio/pcm16", "image/x-portable-pixmap"],
    })
    sdf = spark.createDataFrame(pdf)
    a = attach_binary_metadata(sdf.filter("id = 0"), "payload",
                               modality="audio", mime="audio/pcm16")
    fa = decode_binary(a, "payload").toPandas().features[0]
    x = wave.astype(np.float64)
    assert fa[0] == 500 and abs(fa[1] - x.mean()) < 1e-9
    assert abs(fa[2] - np.sqrt((x * x).mean())) < 1e-9
    assert fa[3] == x.min() and fa[4] == x.max()

    i = attach_binary_metadata(sdf.filter("id = 1"), "payload",
                               modality="image", mime="image/x-portable-pixmap")
    fi = decode_binary(i, "payload").toPandas().features[0]
    assert fi[:3] == [4.0, 3.0, 3.0]
    for c in range(3):
        assert abs(fi[3 + c] - px[:, :, c].astype(float).mean()) < 1e-9
    assert abs(fi[6] - px.astype(float).std()) < 1e-9 and fi[7] == 255.0


def test_mp3_metadata_probe(spark):
    """mp3_metadata walks real MPEG frame headers via mapInPandas and
    attaches the typed struct; unparseable/null payloads yield a null
    struct; attach_binary_metadata(probe=True) fills n_frames/sample_rate
    from the SAME header walk instead of the hash stand-in."""
    from catabra_pandas_spark.pipeline import mp3_metadata
    from catabra_pandas_spark.pipeline.codecs import mp3_encode_headers

    pdf = pd.DataFrame({
        "id": [0, 1, 2, 3],
        "payload": [
            mp3_encode_headers(12, bitrate_idx=9, sr_idx=0, channel_mode=3,
                               id3_tag=b"title"),
            mp3_encode_headers(4, bitrate_idx=14, sr_idx=1, version=2.0),
            b"not an mp3 at all",
            None,
        ],
    })
    sdf = spark.createDataFrame(pdf, "id long, payload binary")
    out = (mp3_metadata(sdf, "payload").toPandas()
           .set_index("id").sort_index())
    m0 = out.loc[0, "mp3_meta"]
    assert (m0["version"], m0["bitrate_kbps"], m0["sample_rate"],
            m0["channels"], m0["n_frames"]) == (1.0, 128, 44100, 1, 12)
    assert m0["avg_bitrate_kbps"] == 128.0  # CBR: average == first frame
    assert abs(m0["duration_ms"] - 12 * 1152 * 1000.0 / 44100) < 1e-9
    m1 = out.loc[1, "mp3_meta"]
    assert (m1["version"], m1["bitrate_kbps"], m1["sample_rate"],
            m1["n_frames"]) == (2.0, 160, 24000, 4)
    assert out.loc[2, "mp3_meta"] is None
    assert out.loc[3, "mp3_meta"] is None

    probed = (attach_binary_metadata(sdf.filter("id = 0"), "payload",
                                     modality="audio", mime="audio/mpeg",
                                     probe=True)
              .toPandas().media_meta[0])
    assert probed["n_frames"] == 12 and probed["sample_rate"] == 44100
    assert probed["mime"] == "audio/mpeg"


def test_mp4_metadata_probe(spark):
    """mp4_metadata walks real ISO BMFF box trees via mapInPandas and
    attaches the typed struct; unparseable/null payloads yield a null
    struct."""
    from catabra_pandas_spark.pipeline import mp4_metadata
    from catabra_pandas_spark.pipeline.codecs import mp4_encode_boxes

    pdf = pd.DataFrame({
        "id": [0, 1, 2],
        "payload": [
            mp4_encode_boxes(30000.0, timescale=90000, width=640,
                             height=360, n_tracks=2, brand=b"mp42"),
            b"definitely not an mp4",
            None,
        ],
    })
    sdf = spark.createDataFrame(pdf, "id long, payload binary")
    out = (mp4_metadata(sdf, "payload").toPandas()
           .set_index("id").sort_index())
    m0 = out.loc[0, "mp4_meta"]
    assert m0["major_brand"] == "mp42"
    assert m0["timescale"] == 90000 and m0["duration"] == 2700000
    assert m0["n_tracks"] == 2
    assert (m0["width"], m0["height"]) == (640.0, 360.0)
    assert out.loc[1, "mp4_meta"] is None
    assert out.loc[2, "mp4_meta"] is None


def test_netpbm_rejects_16bit_maxval():
    """maxval > 255 means 2-byte samples; a uint8 read would silently
    misdecode, so the decoder must raise instead."""
    import pytest

    from catabra_pandas_spark.pipeline.multimodal import _decode_netpbm

    payload = b"P5\n2 2\n65535\n" + bytes(8)
    with pytest.raises(ValueError, match="maxval"):
        _decode_netpbm(payload, {})


def test_connected_components_chain_and_singletons(spark):
    """A 6-node chain exercises pointer jumping across a non-trivial
    diameter; an isolated node supplied via ``nodes`` must come back as a
    singleton cluster."""
    import pandas as pd

    from catabra_pandas_spark.pipeline import connected_components

    pairs = spark.createDataFrame(pd.DataFrame({
        # chain 1-2-3-4-5-6 (given in an unhelpful order), plus island 10-11
        "id_a": [5, 2, 1, 3, 4, 10],
        "id_b": [6, 3, 2, 4, 5, 11],
    }))
    nodes = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(1, 7)) + [10, 11, 99]}))
    out = connected_components(pairs, nodes=nodes, node_col="doc_id") \
        .toPandas().sort_values("id").reset_index(drop=True)
    assert out["id"].tolist() == [1, 2, 3, 4, 5, 6, 10, 11, 99]
    assert out["cluster_id"].tolist() == [1, 1, 1, 1, 1, 1, 10, 10, 99]


def test_near_dup_dedup_mark_and_drop(spark, docs):
    """End-to-end: exact-Jaccard pairs -> clusters -> canonical per
    cluster; drop keeps exactly one row per cluster and all singletons."""
    from catabra_pandas_spark.pipeline import near_dup_dedup, ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs, k=2, threshold=0.3)
    marked = near_dup_dedup(docs, pairs, id_col="doc_id", mode="mark").toPandas()
    assert set(marked.columns) >= {"doc_id", "cluster_id", "is_duplicate"}
    # canonical rule: a row is a duplicate iff it is not its cluster minimum
    grp = marked.groupby("cluster_id")["doc_id"].min()
    assert ((marked["doc_id"] != marked["cluster_id"]) == marked["is_duplicate"]).all()
    assert (marked["cluster_id"].map(grp) == marked["cluster_id"]).all()

    dropped = near_dup_dedup(docs, pairs, id_col="doc_id", mode="drop").toPandas()
    assert sorted(dropped["doc_id"]) == sorted(marked.loc[~marked["is_duplicate"], "doc_id"])
    # clusters are transitive: every pair's two docs share a cluster
    lab = marked.set_index("doc_id")["cluster_id"]
    for a, b in pairs.select("id_a", "id_b").toPandas().itertuples(index=False):
        assert lab[a] == lab[b]


def test_deterministic_sampling_and_splits(spark, docs):
    """Content-hash sampling: stable across reruns, disjoint exhaustive
    splits, exact-N strata, and fraction close to nominal."""
    from catabra_pandas_spark.pipeline import (
        assign_splits, deterministic_sample, stratified_sample)

    n = docs.count()
    s1 = deterministic_sample(docs, 0.3, on="doc_id", seed=1)
    ids1 = sorted(r.doc_id for r in s1.select("doc_id").collect())
    ids2 = sorted(r.doc_id for r in
                  deterministic_sample(docs, 0.3, on="doc_id", seed=1)
                  .select("doc_id").collect())
    assert ids1 == ids2 and 0.15 * n < len(ids1) < 0.45 * n
    # a 0.6 sample with the same seed is a SUPERSET (thresholds nest)
    ids6 = {r.doc_id for r in deterministic_sample(docs, 0.6, on="doc_id", seed=1)
            .select("doc_id").collect()}
    assert set(ids1) <= ids6
    assert deterministic_sample(docs, 1.0, on="doc_id").count() == n

    strat = stratified_sample(docs, "lang", 5, on="doc_id", seed=2) \
        .groupBy("lang").count().collect()
    full = dict(docs.groupBy("lang").count().collect())
    for r in strat:
        assert r["count"] == min(5, full[r.lang])

    sp = assign_splits(docs, {"train": 0.8, "val": 0.1, "test": 0.1},
                       on="doc_id", seed=3)
    agg = dict(sp.groupBy("split").count().collect())
    assert sum(agg.values()) == n and set(agg) <= {"train", "val", "test"}
    assert agg["train"] > agg.get("val", 0) and agg["train"] > agg.get("test", 0)


def test_line_frequency_filter(spark):
    """C4-style line dedup: lines occurring >= min_count corpus-wide are
    removed, documents reassembled in order, short lines exempt via
    min_line_chars, all-boilerplate docs come back empty, null text
    passes through.  Verified against a pure-pandas replay."""
    import pandas as pd

    from catabra_pandas_spark.pipeline import line_frequency_filter

    footer = "subscribe to our newsletter"
    nav = "home | about | contact"
    rows = []
    for i in range(10):
        body = f"unique body text {i}"
        parts = [nav, body, footer] if i % 2 == 0 else [body, footer, "ok"]
        rows.append((i, "\n".join(parts)))
    rows.append((100, footer))             # all-boilerplate doc
    rows.append((101, None))               # null text
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    sdf = spark.createDataFrame(pdf.astype({"doc_id": "int64"}))

    got = (line_frequency_filter(sdf, min_count=3, min_line_chars=3)
           .toPandas().set_index("doc_id").sort_index())

    # pandas replay
    from collections import Counter
    cnt = Counter()
    for t in pdf["text"].dropna():
        for ln in t.split("\n"):
            if len(ln) >= 3:
                cnt[ln] += 1
    drop = {ln for ln, c in cnt.items() if c >= 3}
    for i, t in pdf.set_index("doc_id")["text"].items():
        if t is None:
            assert pd.isna(got.loc[i, "text"])
            assert got.loc[i, "n_lines_removed"] == 0
            continue
        keep = [ln for ln in t.split("\n") if ln not in drop or len(ln) < 3]
        assert got.loc[i, "text"] == "\n".join(keep)
        assert got.loc[i, "n_lines_removed"] == \
            len(t.split("\n")) - len(keep)
    # the boilerplate really was removed, bodies survived
    assert footer in drop and nav in drop
    assert got.loc[100, "text"] == "" and got.loc[100, "n_lines_removed"] == 1
    assert "unique body text 3" in got.loc[3, "text"]
    # 'ok' (2 chars) is exempt despite occurring 5 times
    assert got.loc[1, "text"].endswith("ok")

    with pytest.raises(ValueError, match="min_count"):
        line_frequency_filter(sdf, min_count=1)


def test_weighted_sample_matches_replay_oracle(spark, docs):
    """Efraimidis-Spirakis A-Res weighted sampling: the selection must
    equal an independent pure-python replay of the same md5-key
    arithmetic (u from the digest's top 60 bits, key = ln(u)/w, top-n) —
    exact ids, not just statistics.  Also: exact n, top-5 nests inside
    top-20 (same keys, larger cut), null/zero/negative weights excluded,
    per-stratum variant exact per stratum, deterministic across reruns."""
    import hashlib
    import math

    from catabra_pandas_spark.pipeline import weighted_sample

    pdf = docs.select("doc_id", "lang", "n_chars").toPandas()

    def replay(n, seed):
        keys = {}
        for _, r in pdf.iterrows():
            w = float(r["n_chars"])
            if not w > 0:
                continue
            dig = hashlib.md5(f"{seed}|{int(r['doc_id'])}".encode()).hexdigest()
            u = (int(dig[:15], 16) + 0.5) / 16 ** 15
            keys[int(r["doc_id"])] = (math.log(u) / w, dig)
        top = sorted(keys.items(), key=lambda kv: (-kv[1][0], kv[1][1]))
        return [d for d, _ in top[:n]]

    got = weighted_sample(docs, 20, "n_chars", on="doc_id", seed=5)
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    assert ids == sorted(replay(20, 5))
    assert len(ids) == 20
    # reruns identical; top-5 is a subset of top-20 (keys don't change)
    ids2 = sorted(r.doc_id for r in
                  weighted_sample(docs, 20, "n_chars", on="doc_id", seed=5)
                  .select("doc_id").collect())
    assert ids == ids2
    top5 = {r.doc_id for r in
            weighted_sample(docs, 5, "n_chars", on="doc_id", seed=5)
            .select("doc_id").collect()}
    assert top5 <= set(ids)

    # weight proportionality: two classes, heavy 50x — the heavy class
    # must dominate the sample (deterministic given the seed)
    two = docs.selectExpr(
        "doc_id", "CASE WHEN doc_id % 2 = 0 THEN 50.0 ELSE 1.0 END AS w")
    heavy = (weighted_sample(two, 30, "w", on="doc_id", seed=11)
             .filter("doc_id % 2 = 0").count())
    assert heavy >= 24

    # null / zero / negative weights carry no mass
    bad = docs.selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 3 = 0 THEN NULL "
        "WHEN doc_id % 3 = 1 THEN -1.0 ELSE 0.0 END AS w")
    assert weighted_sample(bad, 10, "w", on="doc_id").count() == 0

    # strata: exact min(n, |stratum|) per stratum
    per = (weighted_sample(docs, 7, "n_chars", on="doc_id", seed=3,
                           strata="lang")
           .groupBy("lang").count().collect())
    full = dict(docs.groupBy("lang").count().collect())
    assert {r.lang: r["count"] for r in per} == \
        {k: min(7, v) for k, v in full.items()}


def test_dsir_logratio(spark, docs):
    """DSIR importance log-weights: (a) target == raw model -> exactly 0
    for every document; (b) the identity logratio == ln(ppl_raw) -
    ln(ppl_target) vs two ngram_perplexity runs on shared tokenization;
    (c) on a corpus with two disjoint vocabularies, documents from the
    target-like half score strictly higher than the others."""
    import numpy as np

    from catabra_pandas_spark.pipeline import (dsir_logratio,
                                               ngram_perplexity,
                                               train_ngram_lm)

    model = train_ngram_lm(docs)
    same = dsir_logratio(docs, model, model).toPandas()
    assert len(same) > 0
    assert np.allclose(same["dsir_logratio"], 0.0, atol=0.0)

    target = docs.filter("lang = 'en'")
    tm = train_ngram_lm(target)
    lr = (dsir_logratio(docs, tm, model).toPandas()
          .set_index("doc_id")["dsir_logratio"])
    pt = (ngram_perplexity(docs, tm).toPandas()
          .set_index("doc_id")["perplexity"])
    pr = (ngram_perplexity(docs, model).toPandas()
          .set_index("doc_id")["perplexity"])
    want = np.log(pr.loc[lr.index]) - np.log(pt.loc[lr.index])
    assert np.allclose(lr.to_numpy(), want.to_numpy(), atol=1e-9)

    # two-vocabulary corpus: target trained on the "aa bb" half
    rows = [(i, "aa bb aa bb aa") for i in range(30)] + \
           [(100 + i, "xx yy xx yy xx") for i in range(30)]
    corp = spark.createDataFrame(rows, "doc_id long, text string")
    tm2 = train_ngram_lm(corp.filter("doc_id < 100"))
    rm2 = train_ngram_lm(corp)
    out = (dsir_logratio(corp, tm2, rm2).toPandas()
           .set_index("doc_id")["dsir_logratio"])
    assert out[out.index < 100].min() > out[out.index >= 100].max()

    # <2-token docs omitted (ngram_perplexity contract)
    tiny = spark.createDataFrame([(1, "one"), (2, "two words")],
                                 "doc_id long, text string")
    got = dsir_logratio(tiny, tm2, rm2).toPandas()
    assert got["doc_id"].tolist() == [2]


def test_train_ngram_lm_pair_matches_two_trainings(spark, docs):
    """The r13 single-scan pair training must reproduce the two-pass
    formulation EXACTLY: every retained unigram/bigram, every count and
    both V values — including the capped case, where the deterministic
    (count desc, token asc) ordering decides the boundary entries."""
    from pyspark.sql import functions as F

    from catabra_pandas_spark.pipeline import (train_ngram_lm,
                                               train_ngram_lm_pair)

    cond = F.col("lang") == "en"
    tgt, raw = train_ngram_lm_pair(docs, cond)
    assert raw == train_ngram_lm(docs)
    assert tgt == train_ngram_lm(docs.filter(cond))

    # tight caps exercise the ordering at the cut boundary
    tgt2, raw2 = train_ngram_lm_pair(docs, cond, max_vocab=20,
                                     max_bigrams=30)
    assert raw2 == train_ngram_lm(docs, max_vocab=20, max_bigrams=30)
    assert tgt2 == train_ngram_lm(docs.filter(cond), max_vocab=20,
                                  max_bigrams=30)
    # string condition form
    tgt3, raw3 = train_ngram_lm_pair(
        docs.withColumn("is_en", cond), "is_en")
    assert (tgt3, raw3) == (tgt, raw)


def test_connected_components_long_chain_converges(spark):
    """Pointer jumping must converge in O(log d) rounds: a 1024-node path
    graph (diameter 1023) finishes well inside the 30-iteration default —
    plain min-propagation would need ~1023 rounds."""
    import pandas as pd

    from catabra_pandas_spark.pipeline import connected_components

    n = 1024
    pairs = spark.createDataFrame(pd.DataFrame({
        "id_a": list(range(n - 1)), "id_b": list(range(1, n))}))
    out = connected_components(pairs).toPandas()
    assert len(out) == n
    assert (out["cluster_id"] == 0).all()


def test_connected_components_unconverged_raises(spark):
    """Running out of max_iterations before the labels converge must
    raise, never return a plausible wrong clustering: a 64-node path
    graph needs several pointer-jumping rounds, so max_iterations=1
    raises, while a graph that converges within the budget returns."""
    import pandas as pd

    from catabra_pandas_spark.pipeline import connected_components

    n = 64
    pairs = spark.createDataFrame(pd.DataFrame({
        "id_a": list(range(n - 1)), "id_b": list(range(1, n))}))
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=1)
    # a star converges at the one-hop seed, well inside one round
    star = spark.createDataFrame(pd.DataFrame({
        "id_a": [0, 0, 0], "id_b": [1, 2, 3]}))
    out = connected_components(star, max_iterations=1).toPandas()
    assert sorted(out["cluster_id"]) == [0, 0, 0, 0]


def test_decontaminate(spark):
    from catabra_pandas_spark.pipeline import decontaminate

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),   # contains bench 3-grams
         (2, "one two three four five"),               # clean
         (3, "beta gamma delta something else here"),  # one shared 3-gram
         (4, "")],                                     # empty doc -> clean
        ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta"),], ["doc_id", "text"])
    out = decontaminate(corpus, bench, n=3, min_hits=1).orderBy("doc_id")
    rows = {r.doc_id: (r.n_hits, r.contaminated) for r in out.collect()}
    # bench 3-grams: {alpha beta gamma, beta gamma delta}
    assert rows[1] == (2, True)
    assert rows[2] == (0, False)
    assert rows[3] == (1, True)
    assert rows[4] == (0, False)
    # drop mode removes exactly the contaminated ids
    dropped = decontaminate(corpus, bench, n=3, min_hits=1, mode="drop")
    assert sorted(r.doc_id for r in dropped.collect()) == [2, 4]
    # min_hits=2 keeps the single-hit doc
    out2 = decontaminate(corpus, bench, n=3, min_hits=2)
    assert {r.doc_id: r.contaminated for r in out2.collect()}[3] is False


def test_repetition_stats(spark):
    from catabra_pandas_spark.pipeline import repetition_stats

    df = spark.createDataFrame(
        [(1, "aa bb\naa bb\ncc dd"),     # 3 lines, 'aa bb' repeated once
         (2, "x y x y x y"),             # top 2-gram 'x y' x3 (and 'y x' x2)
         (3, "")],                       # degenerate
        ["doc_id", "text"])
    out = repetition_stats(df, ngram_n=2).orderBy("doc_id").collect()
    r1, r2, r3 = out
    assert r1.n_lines == 3
    assert r1.dup_line_frac == pytest.approx(1 / 3)
    # repeated instance chars = len('aa bb') = 5 of 15 total segment chars
    assert r1.dup_line_char_frac == pytest.approx(5 / 15)
    assert r2.top_ngram == "x y"
    # 'x y' occurs 3x (len 3), normalized text len 11
    assert r2.top_ngram_char_frac == pytest.approx(9 / 11)
    assert r3.n_lines == 0
    assert r3.dup_line_frac == 0.0
    assert r3.top_ngram == ""
    assert r3.top_ngram_char_frac == 0.0


def test_scrub_pii(spark):
    from catabra_pandas_spark.pipeline import scrub_pii

    df = spark.createDataFrame(
        [(1, "mail me at jo.doe+x@test.org or call +43 660 123-4567 now"),
         (2, "server 192.168.0.1 ssn 123-45-6789"),
         (3, "nothing sensitive here")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert "<EMAIL>" in out[1].text_scrubbed and "@" not in out[1].text_scrubbed
    assert "<PHONE>" in out[1].text_scrubbed
    assert out[1].n_email == 1 and out[1].n_phone == 1
    assert "<IPV4>" in out[2].text_scrubbed and "<SSN>" in out[2].text_scrubbed
    assert out[2].n_ipv4 == 1 and out[2].n_ssn == 1
    assert out[3].text_scrubbed == "nothing sensitive here"
    assert out[3].n_email == out[3].n_phone == out[3].n_ipv4 == out[3].n_ssn == 0


def test_minhash_cross_dup_pairs(spark, docs):
    from catabra_pandas_spark.pipeline import minhash_cross_dup_pairs

    base = docs.limit(5).collect()
    other_rows = [(90000 + r.doc_id, r.text, r.lang, "ev", len(r.text))
                  for r in base]  # exact copies -> certain cross near-dups
    other = spark.createDataFrame(other_rows, schema=docs.schema)
    out = minhash_cross_dup_pairs(docs, other, k=3, threshold=0.9)
    got = {(r.corpus_id, r.other_id) for r in out.collect()}
    # every planted copy is recovered against its source
    for r in base:
        assert (r.doc_id, 90000 + r.doc_id) in got
    # estimates are within [0, 1] and high for exact copies
    assert all(0.9 <= r.est_jaccard <= 1.0 for r in out.collect()
               if (r.corpus_id, r.other_id) in
               {(r2.doc_id, 90000 + r2.doc_id) for r2 in base})


def test_kmeans_codebook_feeds_ivf(spark, emb):
    from catabra_pandas_spark.pipeline import ivf_cosine_topk, kmeans_codebook, cosine_topk

    book = kmeans_codebook(emb, n_centroids=8, n_iter=3)
    assert len(book) == 8
    import numpy as np
    for cid, vec in book:
        assert len(vec) == 64
        assert abs(np.linalg.norm(vec) - 1.0) < 1e-9  # normalized
    # deterministic: same inputs -> identical codebook
    book2 = kmeans_codebook(emb, n_centroids=8, n_iter=3)
    assert book == book2
    # the codebook plugs into IVF and improves/keeps recall vs ids-codebook
    q = emb.filter("vec_id < 5")
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(q, emb, k=5).collect()}
    ivf = {(r.query_id, r.neighbor_id)
           for r in ivf_cosine_topk(q, emb, k=5, n_centroids=8, n_probe=4,
                                    centroids=book).collect()}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.8


def test_arrow_minhash_survives_midsession_conf_set():
    """Regression (Spark 4.1 landmine): a pandas UDF whose input contains
    the nested-lambda shingle-binding expression crashes with
    INTERNAL_ERROR "Cannot evaluate expression" when any spark.conf.set
    happens after the session's first action.  The arrow minhash path must
    stay collectible under that hostile ordering (pipeline/dedup.py
    stages the token array as a real column to avoid the shape).  Run in
    a subprocess: the trigger needs a session whose FIRST action precedes
    the conf mutation, which the shared test session cannot guarantee."""
    import subprocess
    import sys

    code = """
import sys; sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
from catabra_pandas_spark.pipeline.dedup import minhash_signatures
spark = (SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
spark.range(100).count()                                   # first action
spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")  # mutation
docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
rows = minhash_signatures(docs, strategy="arrow").collect()
assert len(rows) == 500, len(rows)
print("SUBPROC_OK")
"""
    res = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=240)
    assert "SUBPROC_OK" in res.stdout, res.stderr[-2000:]


def test_resize_jpeg_decodes_via_updated_meta(spark):
    """jpeg inputs are re-encoded as PNG by resize_image; the emitted
    {out_col}_meta struct carries mime=image/png so the resized column
    feeds straight back into decode_binary (the r6 docstring promise —
    previously the stale jpeg mime made the PNG bytes hit _decode_jpeg)."""
    from catabra_pandas_spark.pipeline import resize_image
    from catabra_pandas_spark.pipeline.codecs import jpeg_encode_gray

    img = np.full((16, 16), 120, np.uint8)
    jpg = jpeg_encode_gray(img)
    sdf = spark.createDataFrame(pd.DataFrame({"id": [0], "payload": [jpg]}))
    d = attach_binary_metadata(sdf, "payload", modality="image",
                               mime="image/jpeg")
    r = resize_image(d, "payload", out_width=4, out_height=4)
    out = decode_binary(r, "payload_resized",
                        meta_col="payload_resized_meta").toPandas()
    meta = out.payload_resized_meta[0]
    assert meta["mime"] == "image/png"
    assert meta["width"] == 4 and meta["height"] == 4
    # modality et al. survive the rewrite
    assert meta["modality"] == "image"
    feats = out.features[0]
    assert feats[0] == 4.0 and feats[1] == 4.0           # width, height
    assert abs(feats[3] - 120.0) < 3.0                   # mean survives DCT
    # netpbm keeps its own mime in the updated struct
    ppm = b"P5\n4 4\n255\n" + bytes(range(16))
    d2 = attach_binary_metadata(
        spark.createDataFrame(pd.DataFrame({"id": [0], "payload": [ppm]})),
        "payload", modality="image", mime="image/x-portable-graymap")
    r2 = resize_image(d2, "payload", out_width=2, out_height=2).toPandas()
    assert r2.payload_resized_meta[0]["mime"] == "image/x-portable-graymap"


def test_kmeans_codebook_round_decimals_matches_numpy_lloyd(spark, emb):
    """round_decimals pins the loop to an engine-replayable recipe: a pure
    numpy Lloyd replay (same init, cosine ties to lowest cell, round-6
    means, empty-cell carryover) reproduces the codebook EXACTLY — the
    property the kmeans_ann DuckDB oracle relies on."""
    from catabra_pandas_spark.pipeline import kmeans_codebook

    book = kmeans_codebook(emb, n_centroids=4, n_iter=2, dim=64,
                           normalize=False, round_decimals=6)
    pdf = emb.toPandas().sort_values("vec_id")
    M = np.stack(pdf.embedding.to_numpy()).astype(float)
    C = M[:4].copy()
    for _ in range(2):
        mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        best = np.argmax(mn @ cn.T, axis=1)
        for c in range(4):
            m = best == c
            if m.any():
                C[c] = M[m].mean(axis=0).round(6)
    got = np.array([v for _, v in book])
    assert np.array_equal(got, C)


def test_cosine_topk_blocked_multi_slice(spark, emb, monkeypatch):
    """Force the blocked path's corpus-slice loop (normally only hit when
    a grid cell's sims matrix would exceed ~32M doubles): with the cap
    shrunk so every cell scores in many slices, the cross-slice top-k
    merge must still equal the broadcast path exactly, including
    similarity ties broken by neighbor id."""
    from catabra_pandas_spark.pipeline import similarity as S

    monkeypatch.setattr(S, "_BLOCK_SIMS_ELEMS", 40)  # ~8 corpus rows/slice
    queries = emb.filter(F.col("vec_id") < 5)
    a = cosine_topk(queries, emb, k=7).toPandas()
    b = cosine_topk(queries, emb, k=7, broadcast_queries=False,
                    n_query_blocks=2, n_corpus_blocks=3).toPandas()
    for df in (a, b):
        df["cosine_sim"] = df["cosine_sim"].round(9)
    from .conftest import assert_pdf_equal
    assert_pdf_equal(a, b, sort_by=["query_id", "rank"])


def test_ngram_lm_perplexity(spark):
    """Bigram-LM training + add-1 perplexity scoring against a pure-python
    reference; short/empty/null docs are omitted; repeated boilerplate
    scores (much) lower perplexity than novel token sequences."""
    import math

    from catabra_pandas_spark.pipeline import ngram_perplexity, train_ngram_lm

    boiler = "click here to subscribe to our newsletter "
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": [boiler * 5, boiler * 3,
                 "quantum flux harmonics destabilize the chrono lattice",
                 "x", None],
    })
    sdf = spark.createDataFrame(docs)
    model = train_ngram_lm(sdf)
    out = (ngram_perplexity(sdf, model).toPandas()
           .set_index("doc_id").sort_index())
    assert list(out.index) == [1, 2, 3]

    uni, big, v = model["unigrams"], model["bigrams"], model["v"]
    for did in (1, 2, 3):
        toks = [t for t in docs.set_index("doc_id").text[did].lower().split(" ")
                if t]
        s = sum(min(0.0, math.log((big.get((a, b), 0) + 1)
                                  / (uni.get(a, 0) + v)))
                for a, b in zip(toks, toks[1:]))
        ref = math.exp(-s / (len(toks) - 1))
        assert abs(out.loc[did, "perplexity"] - ref) < 1e-9
        assert out.loc[did, "n_bigrams"] == len(toks) - 1
    # the curation signal: boilerplate << novel text
    assert out.loc[1, "perplexity"] < out.loc[3, "perplexity"] / 2


def test_ngram_lm_clamped_probability(spark):
    """When the bigram cap retains a pair whose FIRST token fell outside
    the unigram cap, (c(w1w2)+k)/(0+k·V) can exceed 1; the per-bigram
    log-prob is clamped at 0 so perplexity never drops below 1."""
    from catabra_pandas_spark.pipeline import ngram_perplexity, train_ngram_lm

    # 'zz yy' is the dominant bigram but max_vocab=1 keeps only the most
    # frequent unigram ('zz', 3×) — so 'yy zz' has c(w1=yy)=0 while
    # c(yy,zz)=2 survives the bigram cap: V=2, P = (2+1)/(0+2) = 1.5 > 1
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["zz yy zz yy zz"]}))
    model = train_ngram_lm(docs, max_vocab=1, max_bigrams=10)
    assert model["unigrams"] == {"zz": 3}
    assert model["bigrams"][("yy", "zz")] == 2
    out = (ngram_perplexity(docs, model).toPandas()
           .set_index("doc_id").sort_index())
    assert out.loc[1, "perplexity"] >= 1.0


def test_ngram_lm_empty_corpus(spark):
    """An empty (or all-null/short) corpus trains a usable degenerate
    model (v=1) and scoring emits no rows rather than failing."""
    from catabra_pandas_spark.pipeline import ngram_perplexity, train_ngram_lm

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": [None]}),
        "doc_id long, text string")
    model = train_ngram_lm(docs)
    assert model == {"unigrams": {}, "bigrams": {}, "v": 1}
    assert ngram_perplexity(docs, model).count() == 0


def test_exact_substring_stats(spark):
    """ExactSubstr signal: a shared boilerplate span is detected across
    otherwise-distinct documents, overlapping windows never double-count,
    self-repetition within one document counts, and short documents
    score zero."""
    from catabra_pandas_spark.pipeline import exact_substring_stats

    boiler = "all rights reserved click here to subscribe"  # 7 tokens
    docs = pd.DataFrame({"doc_id": [1, 2, 3, 4, 5], "text": [
        f"unique alpha content {boiler} unique beta tail",
        f"{boiler} a completely different continuation follows here",
        "nothing shared with anything else at all here",
        "tiny",
        # self-repetition: the same 5-token run twice in ONE doc
        "repeat me again and again repeat me again and again",
    ]})
    out = (exact_substring_stats(spark.createDataFrame(docs), width=5)
           .toPandas().set_index("doc_id").sort_index())
    # docs 1/2 share a 7-token span -> 7 covered tokens each (three
    # overlapping 5-windows merged by the interval union)
    assert out.loc[1, "n_dup_tokens"] == 7
    assert out.loc[2, "n_dup_tokens"] == 7
    assert out.loc[3, "n_dup_tokens"] == 0
    assert out.loc[4, "n_dup_tokens"] == 0 and out.loc[4, "n_tokens"] == 1
    # "repeat me again and again" occurs twice -> all 10 tokens covered
    assert out.loc[5, "n_dup_tokens"] == 10
    assert out.loc[5, "dup_fraction"] == 1.0
    with pytest.raises(ValueError):
        exact_substring_stats(spark.createDataFrame(docs), width=0)


def test_exact_substring_dedup_removal(spark):
    """Removal semantics: ALL occurrences of a duplicated span are
    dropped (the Lee-2021 behavior), untouched docs keep every token,
    and fully-duplicated docs come back empty."""
    from catabra_pandas_spark.pipeline import exact_substring_dedup

    boiler = "all rights reserved click here to subscribe"
    docs = pd.DataFrame({"doc_id": [1, 2, 3, 4], "text": [
        f"unique alpha content {boiler} unique beta tail",
        f"{boiler} a completely different continuation follows here",
        "nothing shared with anything else at all here",
        "repeat me again and again repeat me again and again",
    ]})
    out = (exact_substring_dedup(spark.createDataFrame(docs), width=5)
           .toPandas().set_index("doc_id").sort_index())
    assert out.loc[1, "text_deduped"] == "unique alpha content unique beta tail"
    assert out.loc[2, "text_deduped"] == \
        "a completely different continuation follows here"
    assert out.loc[3, "n_kept"] == out.loc[3, "n_tokens"]
    assert out.loc[4, "text_deduped"] == "" and out.loc[4, "n_kept"] == 0


def test_quantize_embeddings_roundtrip(spark):
    """int8 scalar quantization: codes in [-127, 127], the max-|v|
    coordinate maps to exactly +/-127, reconstruction error is bounded
    by scale/2 per coordinate, and all-zero / null vectors get scale 0 /
    null struct fields."""
    import numpy as np

    from catabra_pandas_spark.pipeline import quantize_embeddings

    rng = np.random.default_rng(11)
    vecs = [rng.standard_normal(8).tolist() for _ in range(20)]
    pdf = pd.DataFrame({"vec_id": range(22), "embedding": vecs + [[0.0] * 8, None]})
    sdf = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    out = (quantize_embeddings(sdf, dim=8).toPandas()
           .set_index("vec_id").sort_index())
    for i, v in enumerate(vecs):
        v = np.asarray(v)
        scale = out.loc[i, "scale_q8"]
        codes = np.asarray(out.loc[i, "codes_q8"], dtype=np.int64)
        assert abs(scale - np.abs(v).max() / 127.0) < 1e-12
        assert codes.min() >= -127 and codes.max() <= 127
        assert np.abs(codes).max() == 127
        assert np.abs(codes * scale - v).max() <= scale / 2 + 1e-12
    assert out.loc[20, "scale_q8"] == 0.0
    assert list(out.loc[20, "codes_q8"]) == [0] * 8
    assert out.loc[21, "scale_q8"] is None or pd.isna(out.loc[21, "scale_q8"])
    assert out.loc[21, "codes_q8"] is None


def test_q8_cosine_topk_rerank_matches_exact(spark):
    """q8 scan + exact re-rank recovers the exact cosine top-k (values
    AND order) on a 500-vector corpus; the pure code-space variant ranks
    with small error but high overlap."""
    import numpy as np

    from catabra_pandas_spark.pipeline import (cosine_topk, q8_cosine_topk,
                                               quantize_embeddings)

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame({
        "vec_id": range(500),
        "embedding": [rng.standard_normal(16).tolist() for _ in range(500)],
    })
    sdf = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    qdf = sdf.filter(F.col("vec_id") < 8)
    corpus_q8 = quantize_embeddings(sdf, dim=16)

    exact = (cosine_topk(qdf, sdf, k=5, dim=16).toPandas()
             .sort_values(["query_id", "rank"]).reset_index(drop=True))
    rer = (q8_cosine_topk(qdf, corpus_q8, k=5, dim=16,
                          rerank_vec="embedding", rerank=8).toPandas()
           .sort_values(["query_id", "rank"]).reset_index(drop=True))
    assert list(rer.neighbor_id) == list(exact.neighbor_id)
    assert np.allclose(rer.cosine_sim, exact.cosine_sim, atol=1e-9)

    approx = (q8_cosine_topk(qdf, corpus_q8, k=5, dim=16).toPandas())
    pairs_e = set(zip(exact.query_id, exact.neighbor_id))
    pairs_a = set(zip(approx.query_id, approx.neighbor_id))
    assert len(pairs_a & pairs_e) >= int(0.8 * len(pairs_e))


def test_cosine_topk_small_corpus_excludes_self(spark):
    """k larger than the corpus: self-matches must stay excluded on BOTH
    paths.  Regression for the nan_to_num(neginf=default) bug — the -inf
    self-match sentinel was rewritten to finite -1.8e308, passed the
    isfinite keep filter, and leaked into blocked / q8 output."""
    import numpy as np

    from catabra_pandas_spark.pipeline import (cosine_topk, q8_cosine_topk,
                                               quantize_embeddings)

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "vec_id": range(3),
        "embedding": [rng.standard_normal(8).tolist() for _ in range(3)],
    })
    sdf = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")

    for out in (
        cosine_topk(sdf, sdf, k=5, dim=8).toPandas(),
        cosine_topk(sdf, sdf, k=5, dim=8, broadcast_queries=False,
                    n_query_blocks=2, n_corpus_blocks=2).toPandas(),
        q8_cosine_topk(sdf, quantize_embeddings(sdf, dim=8), k=5,
                       dim=8).toPandas(),
        q8_cosine_topk(sdf, quantize_embeddings(sdf, dim=8), k=5, dim=8,
                       rerank_vec="embedding").toPandas(),
    ):
        # 3 queries x 2 non-self neighbors, all sims genuine cosines
        assert len(out) == 6
        assert (out.query_id != out.neighbor_id).all()
        assert (out.cosine_sim.abs() <= 1 + 1e-9).all()


def test_quantize_embeddings_dim1(spark):
    """dim=1 must not hit F.greatest's >=2-column requirement (it falls
    back to the array_max HOF path)."""
    from catabra_pandas_spark.pipeline import quantize_embeddings

    pdf = pd.DataFrame({"vec_id": [0, 1, 2],
                        "embedding": [[2.0], [-4.0], [0.0]]})
    sdf = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    out = quantize_embeddings(sdf, dim=1).toPandas().set_index("vec_id")
    assert abs(out.loc[0, "scale_q8"] - 2.0 / 127) < 1e-15
    assert list(out.loc[0, "codes_q8"]) == [127]
    assert list(out.loc[1, "codes_q8"]) == [-127]
    assert out.loc[2, "scale_q8"] == 0.0


def test_cosine_topk_blocked_tie_storm(spark):
    """Adversarial ties for the r9 boundary-tie detector: vectors drawn
    from {-1,0,1}^6 produce many EXACT cosine duplicates, so argpartition
    selections constantly cross k-boundary ties and the (sim desc,
    neighbor_id asc) contract is only met if the stable-repair path
    fires.  Blocked grid must equal the broadcast path row-for-row, and
    both must equal a brute-force numpy reference."""
    import itertools

    import numpy as np

    from catabra_pandas_spark.pipeline import cosine_topk

    vecs = [list(map(float, v))
            for v in itertools.product([-1.0, 0.0, 1.0], repeat=6)
            if any(v)][:400]
    pdf = pd.DataFrame({"vec_id": range(len(vecs)), "embedding": vecs})
    sdf = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    q = sdf.filter(F.col("vec_id") % 17 == 0)

    a = (cosine_topk(q, sdf, k=7, dim=6).toPandas()
         .sort_values(["query_id", "rank"]).reset_index(drop=True))
    b = (cosine_topk(q, sdf, k=7, dim=6, broadcast_queries=False,
                     n_query_blocks=3, n_corpus_blocks=5).toPandas()
         .sort_values(["query_id", "rank"]).reset_index(drop=True))
    assert list(a.neighbor_id) == list(b.neighbor_id)
    assert np.allclose(a.cosine_sim, b.cosine_sim, atol=0)

    # brute-force reference with the documented deterministic ordering
    M = np.array(vecs)
    nrm = np.sqrt((M * M).sum(axis=1))
    qids = [int(r) for r in pdf.vec_id if r % 17 == 0]
    for qid in qids:
        sims = (M @ M[qid]) / (nrm * nrm[qid])
        order = sorted((i for i in range(len(vecs)) if i != qid),
                       key=lambda i: (-sims[i], i))[:7]
        got = list(a[a.query_id == qid].neighbor_id)
        assert got == order, f"query {qid}: {got} != {order}"


def test_cosine_topk_blocked_overflow_ties(spark):
    """ADVICE r9: with individually FINITE norms the dot product and the
    norm product can both overflow to inf, giving NaN sims the old
    norms_clean fast path left un-scrubbed — correct output (isfinite
    keep drops them) but the boundary-tie == comparison went silently
    false, so tied finite sims could violate the (sim desc, neighbor asc)
    contract.  Corpus mixes 1e170-scaled vectors (huge x huge pairs
    overflow -> dropped) with unit-scale EXACT-tie vectors; queries are
    huge, so every query row sees both NaN pairs and k-boundary ties in
    the same slice.  Blocked grid must equal broadcast row-for-row and
    both must equal brute force over the finite pairs only."""
    import itertools

    import numpy as np

    from catabra_pandas_spark.pipeline import cosine_topk

    dirs = [list(map(float, v))
            for v in itertools.product([-1.0, 0.0, 1.0], repeat=3)
            if any(v)]  # 26 directions, many exact cosine duplicates
    big = [[x * 1e170 for x in v] for v in dirs[:8]]
    vecs = dirs + big  # ids 0..25 normal, 26..33 huge
    pdf = pd.DataFrame({"vec_id": range(len(vecs)), "embedding": vecs})
    sdf = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    q = sdf.filter(F.col("vec_id") >= 26)  # huge queries only

    a = (cosine_topk(q, sdf, k=9, dim=3).toPandas()
         .sort_values(["query_id", "rank"]).reset_index(drop=True))
    b = (cosine_topk(q, sdf, k=9, dim=3, broadcast_queries=False,
                     n_query_blocks=2, n_corpus_blocks=3).toPandas()
         .sort_values(["query_id", "rank"]).reset_index(drop=True))
    assert list(a.neighbor_id) == list(b.neighbor_id)
    assert np.allclose(a.cosine_sim, b.cosine_sim, atol=0)

    # brute force over finite pairs: huge x huge overflows and is dropped
    M = np.array(vecs)
    with np.errstate(over="ignore", invalid="ignore"):
        nrm = np.sqrt((M * M).sum(axis=1))
    for qid in range(26, 34):
        with np.errstate(over="ignore", invalid="ignore"):
            sims = (M @ M[qid]) / (nrm * nrm[qid])
        finite = [i for i in range(len(vecs))
                  if i != qid and np.isfinite(sims[i])]
        assert finite == list(range(26))  # all huge pairs overflowed
        order = sorted(finite, key=lambda i: (-sims[i], i))[:9]
        got = list(a[a.query_id == qid].neighbor_id)
        assert got == order, f"query {qid}: {got} != {order}"


from hypothesis import given as _hgiven, settings as _hsettings
from hypothesis import strategies as _hst


@_hsettings(max_examples=8, deadline=None)
@_hgiven(n=_hst.integers(min_value=1, max_value=60),
         n_per=_hst.integers(min_value=1, max_value=7),
         n_strata=_hst.integers(min_value=1, max_value=4),
         seed=_hst.integers(min_value=0, max_value=2**31 - 1),
         frac=_hst.sampled_from([0.0, 0.25, 0.5, 1.0]),
         grow=_hst.integers(min_value=0, max_value=10))
def test_sampling_determinism_property(spark, n, n_per, n_strata, seed,
                                       frac, grow):
    """The reproducibility contracts every md5-keyed sampler promises,
    on random inputs: (a) stratified_sample returns EXACTLY
    min(n_per, |stratum|) rows per stratum and the identical set on a
    re-partitioned input; (b) assign_splits is stable under corpus
    GROWTH — a row's split never changes when new rows arrive (the
    leak-proof property); (c) deterministic_sample keeps equal keys
    together and is idempotent."""
    from catabra_pandas_spark.pipeline import (assign_splits,
                                               deterministic_sample,
                                               stratified_sample)

    rows = [(i, i % n_strata, float(i * 7 % 23)) for i in range(n)]
    sdf = spark.createDataFrame(rows, "id long, s long, x double")

    # (a) exact-N per stratum + partitioning invariance
    got = stratified_sample(sdf, "s", n_per, on="id",
                            seed=seed).toPandas()
    sizes = got.groupby("s").size().to_dict()
    for st_ in range(n_strata):
        in_stratum = sum(1 for i in range(n) if i % n_strata == st_)
        if in_stratum:
            assert sizes.get(st_, 0) == min(n_per, in_stratum)
    got2 = stratified_sample(sdf.repartition(7, "x"), "s", n_per, on="id",
                             seed=seed).toPandas()
    assert sorted(got.id) == sorted(got2.id)

    # (b) split stability under growth
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    base = assign_splits(sdf, w, on="id", seed=seed).toPandas()
    grown_rows = rows + [(n + j, (n + j) % n_strata, -1.0)
                         for j in range(grow)]
    gsdf = spark.createDataFrame(grown_rows, "id long, s long, x double")
    grown = assign_splits(gsdf, w, on="id", seed=seed).toPandas()
    m = base.merge(grown, on="id", suffixes=("_a", "_b"))
    assert (m.split_a == m.split_b).all()

    # (c) fraction filter: idempotent, key-coherent
    samp = deterministic_sample(sdf, frac, on="s", seed=seed).toPandas()
    samp2 = deterministic_sample(sdf, frac, on="s", seed=seed).toPandas()
    assert sorted(samp.id) == sorted(samp2.id)
    kept_strata = set(samp.s)
    for st_ in kept_strata:  # equal keys kept together
        in_stratum = sum(1 for i in range(n) if i % n_strata == st_)
        assert (samp.s == st_).sum() == in_stratum
    if frac >= 1.0:
        assert len(samp) == n


def test_semantic_dedup(spark):
    """SemDeDup (Abbas et al. 2023): k-means cells, within-cell pairwise
    cosine > threshold forms duplicate groups, one keeper per group —
    the member with the LOWEST centroid cosine (paper rule), or min-id.
    Oracle: an independent numpy replay of assignment + union-find +
    keeper rule with an explicit codebook (both sides do the identical
    float arithmetic, so equality is exact).  Data plants duplicate
    bundles as tiny perturbations of base vectors, plus singletons."""
    from catabra_pandas_spark.pipeline import semantic_dedup

    rng = np.random.default_rng(51)
    dim, n_cells = 8, 4
    C = rng.normal(size=(n_cells, dim))
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    centroids = [(i, Cn[i].tolist()) for i in range(n_cells)]

    vecs, planted = [], []
    vid = 0
    for b in range(30):                       # 30 bundles of 1-4 near-dups
        base = rng.normal(size=dim)
        sz = int(rng.integers(1, 5))
        members = []
        for _ in range(sz):
            v = base + rng.normal(size=dim) * 1e-3   # cosine ~ 0.9999
            vecs.append((vid, v.tolist()))
            members.append(vid)
            vid += 1
        planted.append(members)
    pdf = pd.DataFrame(vecs, columns=["vec_id", "embedding"])
    sdf = spark.createDataFrame(pdf)

    for keep in ("low_centroid_sim", "min_id"):
        got = (semantic_dedup(sdf, threshold=0.995, centroids=centroids,
                              dim=dim, keep=keep)
               .toPandas().sort_values("vec_id").reset_index(drop=True))

        # independent replay
        M = np.asarray(pdf["embedding"].tolist())
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        sims_c = Mn @ Cn.T
        cell = np.argmax(sims_c, axis=1)
        csim = sims_c[np.arange(len(M)), cell]
        exp_rep = np.empty(len(M), dtype=int)
        for c in range(n_cells):
            idx = np.where(cell == c)[0]          # vec_id order == id order
            s = Mn[idx] @ Mn[idx].T
            groups = {i: {i} for i in range(len(idx))}
            lbl = list(range(len(idx)))
            for i in range(len(idx)):
                for j in range(i + 1, len(idx)):
                    if s[i, j] > 0.995 and lbl[i] != lbl[j]:
                        a, b = lbl[i], lbl[j]
                        for m in groups[b]:
                            lbl[m] = a
                        groups[a] |= groups[b]
                        del groups[b]
            for g in groups.values():
                mem = sorted(g)
                if keep == "min_id" or len(mem) == 1:
                    kpos = mem[0]
                else:
                    cs = csim[idx[mem]]
                    kpos = mem[int(np.argmin(cs))]
                for m in mem:
                    exp_rep[idx[m]] = idx[kpos]

        assert got["cell"].tolist() == cell.tolist(), keep
        assert got["group_rep"].tolist() == exp_rep.tolist(), keep
        assert got["keep"].tolist() == (exp_rep == np.arange(len(M))).tolist(), keep
        # invariants: exactly one keeper per group; keeper is its own rep
        per_group = got.groupby("group_rep")["keep"].sum()
        assert (per_group == 1).all(), keep
        # planted bundles that landed in ONE cell share one representative
        for members in planted:
            cells = {cell[m] for m in members}
            if len(cells) == 1 and len(members) > 1:
                assert got.loc[got.vec_id.isin(members), "group_rep"].nunique() == 1

    # end-to-end with the trained codebook (no explicit centroids):
    # deterministic, exactly one keeper per group, all ids present
    e2e = semantic_dedup(sdf, threshold=0.995, n_centroids=4, n_iter=3,
                         dim=dim).toPandas()
    assert len(e2e) == len(pdf) and set(e2e.vec_id) == set(pdf.vec_id)
    assert (e2e.groupby("group_rep")["keep"].sum() == 1).all()
    e2e2 = semantic_dedup(sdf, threshold=0.995, n_centroids=4, n_iter=3,
                          dim=dim).toPandas()
    pd.testing.assert_frame_equal(
        e2e.sort_values("vec_id").reset_index(drop=True),
        e2e2.sort_values("vec_id").reset_index(drop=True))


def test_semantic_decontaminate(spark):
    """Embedding-space decontamination: max benchmark cosine per corpus
    row via one broadcast matmul scan.  Oracle: brute-force numpy on the
    same matrices (identical float ops, exact equality).  Plants eval
    leaks as perturbed copies of benchmark vectors; checks mark vs drop
    modes, the argmax audit id, the empty-benchmark error, and the
    max_benchmark cap."""
    from catabra_pandas_spark.pipeline import semantic_decontaminate

    rng = np.random.default_rng(67)
    dim, nb, nc = 8, 20, 300
    B = rng.normal(size=(nb, dim))
    bench = pd.DataFrame({"vec_id": np.arange(nb),
                          "embedding": [v.tolist() for v in B]})
    C = rng.normal(size=(nc, dim))
    leak_ids = rng.choice(nc, 25, replace=False)
    for i, li in enumerate(leak_ids):                 # planted leaks
        C[li] = B[i % nb] + rng.normal(size=dim) * 1e-3
    corpus = pd.DataFrame({"vec_id": np.arange(nc) + 1000,
                           "embedding": [v.tolist() for v in C],
                           "extra": rng.integers(0, 9, nc)})
    sb, sc = spark.createDataFrame(bench), spark.createDataFrame(corpus)

    got = (semantic_decontaminate(sc, sb, threshold=0.99)
           .toPandas().sort_values("vec_id").reset_index(drop=True))

    Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    sims = Cn @ Bn.T
    j = np.argmax(sims, axis=1)
    mx = sims[np.arange(nc), j]
    # BLAS gemm blocking differs between the oracle's one 300x8 matmul and
    # the executor's per-batch slices, so the dot products agree only to
    # the ulp — compare with a tight tolerance, not ==
    assert np.allclose(got["max_bench_sim"], mx, rtol=0, atol=1e-12)
    assert got["nearest_bench_id"].tolist() == j.tolist()
    assert got["contaminated"].tolist() == (mx >= 0.99).tolist()
    assert set(np.where(mx >= 0.99)[0]) >= set(leak_ids.tolist())
    assert list(got.columns[:3]) == ["vec_id", "embedding", "extra"]

    dropped = semantic_decontaminate(sc, sb, threshold=0.99, mode="drop") \
        .toPandas()
    assert len(dropped) == int((mx < 0.99).sum())
    assert "contaminated" not in dropped.columns

    with pytest.raises(ValueError, match="empty"):
        semantic_decontaminate(sc, sb.limit(0))
    with pytest.raises(ValueError, match="max_benchmark"):
        semantic_decontaminate(sc, sb, max_benchmark=5)
    # re-scoring mode='mark' output must fail loudly, not produce
    # duplicate column names
    with pytest.raises(ValueError, match="output column"):
        semantic_decontaminate(
            semantic_decontaminate(sc, sb, threshold=0.99), sb)


def test_semantic_dedup_duckdb_oracle(spark):
    """Cross-engine oracle for semantic_dedup — the exact SQL shape the
    r12 driver row will use: DuckDB replays assignment (arg_max of
    list_cosine_similarity over the broadcast codebook), within-cell
    duplicate pairs, connected components (recursive CTE over symmetric
    edges, min-label), and the paper's keeper rule (lowest centroid
    cosine, ties by id) — all integer outputs, so the comparison is
    exact as long as every float DECISION has margin (random data: no
    near-ties at the 0.995 threshold or between centroids)."""
    import duckdb

    from catabra_pandas_spark.pipeline import semantic_dedup

    rng = np.random.default_rng(73)
    dim, n_cells = 8, 4
    C = rng.normal(size=(n_cells, dim))
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    centroids = [(i, Cn[i].tolist()) for i in range(n_cells)]

    vecs, vid = [], 0
    for b in range(25):
        base = rng.normal(size=dim)
        for _ in range(int(rng.integers(1, 4))):
            v = base + rng.normal(size=dim) * 1e-3
            vecs.append((vid, v.tolist()))
            vid += 1
    pdf = pd.DataFrame(vecs, columns=["vec_id", "embedding"])

    got = (semantic_dedup(spark.createDataFrame(pdf), threshold=0.995,
                          centroids=centroids, dim=dim)
           .toPandas().sort_values("vec_id").reset_index(drop=True))

    cb = pd.DataFrame([(c, v) for c, v in centroids],
                      columns=["cell", "centroid"])
    con = duckdb.connect()
    con.register("emb", pdf)
    con.register("cb", cb)
    oracle = con.sql("""
      WITH RECURSIVE assigned AS (
        SELECT e.vec_id,
               arg_max(c.cell, list_cosine_similarity(e.embedding, c.centroid)) AS cell,
               max(list_cosine_similarity(e.embedding, c.centroid)) AS csim
        FROM emb e CROSS JOIN cb c
        GROUP BY e.vec_id
      ), edges AS (
        SELECT a.vec_id AS src, b.vec_id AS dst
        FROM assigned a
        JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id
        JOIN emb ea ON ea.vec_id = a.vec_id
        JOIN emb eb ON eb.vec_id = b.vec_id
        WHERE list_cosine_similarity(ea.embedding, eb.embedding) > 0.995
      ), reach(id, lbl) AS (
        SELECT vec_id, vec_id FROM assigned
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
      ), comp AS (
        SELECT id AS vec_id, min(lbl) AS grp FROM reach GROUP BY id
      ), keeper AS (
        SELECT c.grp,
               min(struct_pack(csim := a.csim, id := a.vec_id)).id AS rep
        FROM comp c JOIN assigned a ON a.vec_id = c.vec_id
        GROUP BY c.grp
      )
      SELECT a.vec_id, a.cell,
             k.rep AS group_rep,
             (k.rep = a.vec_id) AS keep
      FROM assigned a
      JOIN comp c ON c.vec_id = a.vec_id
      JOIN keeper k ON k.grp = c.grp
      ORDER BY a.vec_id
    """).df()

    assert got["vec_id"].tolist() == oracle["vec_id"].tolist()
    assert got["cell"].tolist() == oracle["cell"].tolist()
    assert got["group_rep"].tolist() == oracle["group_rep"].tolist()
    assert got["keep"].tolist() == oracle["keep"].tolist()


def test_semantic_decontaminate_duckdb_oracle(spark):
    """Cross-engine oracle for semantic_decontaminate — the r12 driver
    row's SQL: per corpus row, max and arg_max of
    list_cosine_similarity over the benchmark cross join.  The threshold
    verdict and argmax id are integers/booleans, exact under margins;
    max_bench_sim itself is float and excluded (the driver hashes value
    REPRESENTATION, and BLAS vs DuckDB summation differ in the ulp —
    the r12 query should project the discrete columns only)."""
    import duckdb

    from catabra_pandas_spark.pipeline import semantic_decontaminate

    rng = np.random.default_rng(79)
    dim, nb, nc = 8, 15, 200
    B = rng.normal(size=(nb, dim))
    C = rng.normal(size=(nc, dim))
    for i, li in enumerate(rng.choice(nc, 20, replace=False)):
        C[li] = B[i % nb] + rng.normal(size=dim) * 1e-3
    bench = pd.DataFrame({"vec_id": np.arange(nb),
                          "embedding": [v.tolist() for v in B]})
    corpus = pd.DataFrame({"vec_id": np.arange(nc) + 1000,
                           "embedding": [v.tolist() for v in C]})

    got = (semantic_decontaminate(spark.createDataFrame(corpus),
                                  spark.createDataFrame(bench),
                                  threshold=0.99)
           .toPandas().sort_values("vec_id").reset_index(drop=True))

    con = duckdb.connect()
    con.register("corpus", corpus)
    con.register("bench", bench)
    oracle = con.sql("""
      SELECT c.vec_id,
             arg_max(b.vec_id,
                     list_cosine_similarity(c.embedding, b.embedding))
               AS nearest_bench_id,
             max(list_cosine_similarity(c.embedding, b.embedding)) >= 0.99
               AS contaminated
      FROM corpus c CROSS JOIN bench b
      GROUP BY c.vec_id
      ORDER BY c.vec_id
    """).df()

    assert got["vec_id"].tolist() == oracle["vec_id"].tolist()
    assert got["nearest_bench_id"].tolist() == oracle["nearest_bench_id"].tolist()
    assert got["contaminated"].tolist() == oracle["contaminated"].tolist()


def test_semantic_dedup_subcluster_recovery(spark):
    """on_hot_cell='subcluster': a deliberately hot cell (one coarse
    centroid swallows everything, cap far below n) must complete without
    manual intervention by recursive re-clustering, still collapse every
    planted exact-duplicate pair (identical vectors share every argmax,
    so they can never be separated by a split), and keep one item per
    group."""
    from catabra_pandas_spark.pipeline import semantic_dedup

    rng = np.random.default_rng(89)
    dim, n_base, n_dup = 8, 60, 20
    base_vecs = rng.normal(size=(n_base, dim))
    rows = [(i, base_vecs[i].tolist()) for i in range(n_base)]
    # ids [100, 100+n_dup) duplicate vector (id-100) exactly
    rows += [(100 + i, base_vecs[i].tolist()) for i in range(n_dup)]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    one_cell = [(0, [1.0] + [0.0] * (dim - 1))]

    got = (semantic_dedup(spark.createDataFrame(pdf), threshold=0.9999,
                          centroids=one_cell, dim=dim, max_cell_size=25,
                          on_hot_cell="subcluster", subcluster_centroids=4)
           .toPandas().set_index("vec_id"))
    assert len(got) == n_base + n_dup
    # every planted pair collapsed to one group with exactly one keeper
    for i in range(n_dup):
        assert got.loc[100 + i, "group_rep"] == got.loc[i, "group_rep"]
        assert int(got.loc[100 + i, "keep"]) + int(got.loc[i, "keep"]) == 1
    # non-duplicated bases keep themselves
    lone = [i for i in range(n_dup, n_base)]
    assert got.loc[lone, "keep"].all()
    # the hot cell was actually split
    assert got["cell"].nunique() > 1

    # an over-cap group of IDENTICAL vectors cannot split: loud fail-fast
    same = pd.DataFrame({"vec_id": np.arange(30),
                         "embedding": [base_vecs[0].tolist()] * 30})
    with pytest.raises(Exception, match="cannot be split"):
        semantic_dedup(spark.createDataFrame(same), centroids=one_cell,
                       dim=dim, max_cell_size=10,
                       on_hot_cell="subcluster").collect()


def test_semantic_dedup_memory_budget_cap(spark):
    """memory_budget_bytes derives the hot-cell cap (cap = sqrt(budget/9),
    overriding max_cell_size): a budget implying cap < the cell size must
    trip the guard even when max_cell_size would allow it, and a too-small
    budget errors up front."""
    from catabra_pandas_spark.pipeline import semantic_dedup

    rng = np.random.default_rng(97)
    n = 1200
    pdf = pd.DataFrame({
        "vec_id": np.arange(n),
        "embedding": [v.tolist() for v in rng.normal(size=(n, 4))]})
    one_cell = [(0, [1.0, 0.0, 0.0, 0.0])]
    # 9e6 bytes -> cap 1000 < 1200: the guard trips even though the
    # 20k max_cell_size default would allow the cell
    with pytest.raises(Exception, match="max_cell_size"):
        semantic_dedup(spark.createDataFrame(pdf), centroids=one_cell,
                       dim=4, memory_budget_bytes=9_000_000).collect()
    # 16 MB -> cap ~1333 >= 1200: passes
    ok = semantic_dedup(spark.createDataFrame(pdf), centroids=one_cell,
                        dim=4, memory_budget_bytes=16_000_000)
    assert ok.count() == n
    with pytest.raises(ValueError, match="memory_budget_bytes too small"):
        semantic_dedup(spark.createDataFrame(pdf), centroids=one_cell,
                       dim=4, memory_budget_bytes=1000)


def test_semantic_dedup_hot_cell_guard(spark):
    """A cluster above max_cell_size must fail LOUDLY (naming the cell
    and size) instead of silently running the O(c^2) pairwise task —
    the 100 TB hot-cell hazard."""
    from catabra_pandas_spark.pipeline import semantic_dedup

    rng = np.random.default_rng(83)
    pdf = pd.DataFrame({
        "vec_id": np.arange(50),
        "embedding": [v.tolist() for v in rng.normal(size=(50, 4))]})
    one_cell = [(0, [1.0, 0.0, 0.0, 0.0])]   # everything lands in cell 0
    with pytest.raises(Exception, match="max_cell_size"):
        semantic_dedup(spark.createDataFrame(pdf), centroids=one_cell,
                       dim=4, max_cell_size=10).collect()


def test_bigram_logprob_sums_matches_reference_loop():
    """The r13 vectorized scorer (_prep_models + _bigram_logprob_sums:
    shared vocab ids, int64 bigram keys, numpy log/bincount) must
    reproduce the r12 per-token dict-lookup loop on every edge shape:
    None text, empty, single-token, all-OOV tokens, tokens known to one
    model but not the other, and multi-model scoring.  Tolerance covers
    only np.log-vs-math.log SIMD ulp (relative ~1e-15)."""
    import math
    import random

    import numpy as np

    from catabra_pandas_spark.pipeline.text import (_bigram_logprob_sums,
                                                    _prep_models,
                                                    _tokenize_batch)

    rng = random.Random(7)
    voc = [f"w{i}" for i in range(200)]
    models = []
    for seed in (1, 2):
        r = random.Random(seed)
        uni = {w: r.randint(1, 500) for w in r.sample(voc, 150)}
        big = {(r.choice(voc), r.choice(voc)): r.randint(1, 40)
               for _ in range(3000)}
        models.append({"unigrams": uni, "bigrams": big,
                       "v": float(len(uni) + 1)})
    texts = [None, "", "solo", "oovA oovB oovC",
             " ".join(rng.choice(voc) for _ in range(50))]
    texts += [" ".join(rng.choice(voc + ["zzz-oov"])
                       for _ in range(rng.randint(2, 80)))
              for _ in range(200)]
    k = 1.0
    tok_lists = _tokenize_batch(texts)
    vocab, prepped = _prep_models(models)
    nb, sums = _bigram_logprob_sums(tok_lists, vocab, prepped, k)

    for m, s in zip(models, sums):
        uni, big, v = m["unigrams"], m["bigrams"], m["v"]
        for i, t in enumerate(texts):
            toks = [x for x in t.lower().split(" ") if x] if t else []
            if len(toks) < 2:
                assert nb[i] == 0 and s[i] == 0.0
                continue
            ref = 0.0
            for w1, w2 in zip(toks, toks[1:]):
                ref += min(0.0, math.log((big.get((w1, w2), 0) + k)
                                         / (uni.get(w1, 0) + k * v)))
            assert nb[i] == len(toks) - 1
            assert np.isclose(s[i], ref, rtol=1e-12, atol=1e-12)


def test_line_frequency_filter_literal_sep_and_blank_default(spark):
    """r13 ADVICE fixes: (a) the separator is treated literally on BOTH
    the split and reassembly sides — a regex-metachar sep like '|' must
    round-trip instead of splitting per character; (b) the default
    min_line_chars=1 exempts empty lines, so blank paragraph separators
    survive corpus-wide boilerplate removal unless min_line_chars=0 is
    passed explicitly."""
    import pandas as pd

    from catabra_pandas_spark.pipeline import line_frequency_filter

    rows = [(i, f"body {i}|shared footer|tail {i}") for i in range(8)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    sdf = spark.createDataFrame(pdf.astype({"doc_id": "int64"}))
    got = (line_frequency_filter(sdf, min_count=5, sep="|")
           .toPandas().set_index("doc_id").sort_index())
    for i in range(8):
        assert got.loc[i, "text"] == f"body {i}|tail {i}"
        assert got.loc[i, "n_lines_removed"] == 1

    rows2 = [(i, f"body {i}\n\nshared footer") for i in range(8)]
    sdf2 = spark.createDataFrame(
        pd.DataFrame(rows2, columns=["doc_id", "text"])
        .astype({"doc_id": "int64"}))
    # default: the footer goes, the blank line stays
    d = (line_frequency_filter(sdf2, min_count=5)
         .toPandas().set_index("doc_id").sort_index())
    assert d.loc[0, "text"] == "body 0\n" and d.loc[0, "n_lines_removed"] == 1
    # opt-in min_line_chars=0: the over-counted blank goes too
    z = (line_frequency_filter(sdf2, min_count=5, min_line_chars=0)
         .toPandas().set_index("doc_id").sort_index())
    assert z.loc[0, "text"] == "body 0" and z.loc[0, "n_lines_removed"] == 2


def test_temperature_weights_and_mix(spark):
    """r13 (lands a driver row in r14): temperature-scaled mixture
    weights p_c ∝ n_c^(1/T) — T=1 reproduces natural proportions, large
    T flattens toward uniform — and mix_corpora(temperature=) derives
    them from one count over the tagged union, with the same
    deterministic md5-order draw as explicit weights."""
    import math

    import pandas as pd
    import pytest as _pytest

    from catabra_pandas_spark.pipeline import mix_corpora, temperature_weights

    sizes = {"en": 8000, "de": 800, "zh": 80}
    w1 = temperature_weights(sizes, 1.0)
    assert math.isclose(w1["en"], 8000 / 8880)
    whot = temperature_weights(sizes, 100.0)
    assert abs(whot["en"] - 1 / 3) < 0.02 and abs(whot["zh"] - 1 / 3) < 0.02
    w07 = temperature_weights(sizes, 1 / 0.7)  # Gopher-style alpha=0.7
    assert w1["en"] > w07["en"] > whot["en"]
    with _pytest.raises(ValueError):
        temperature_weights(sizes, 0.0)
    with _pytest.raises(ValueError):
        temperature_weights({"a": 0, "b": 0}, 1.0)

    pdf = pd.DataFrame({"doc_id": range(900),
                        "lang": ["en"] * 600 + ["de"] * 240 + ["zh"] * 60})
    docs = spark.createDataFrame(pdf.astype({"doc_id": "int64"}))
    corpora = {lang: docs.filter(docs.lang == lang).select("doc_id")
               for lang in ("en", "de", "zh")}
    # T=1: natural proportions of 300 = 200/80/20
    nat = (mix_corpora(corpora, None, 300, on="doc_id", temperature=1.0)
           .groupBy("source").count().toPandas()
           .set_index("source")["count"].to_dict())
    assert nat == {"en": 200, "de": 80, "zh": 20}
    # explicit weights equal to the derived ones -> identical draw
    w = temperature_weights({"en": 600, "de": 240, "zh": 60}, 2.0)
    a = mix_corpora(corpora, w, 300, on="doc_id").toPandas()
    b = (mix_corpora(corpora, None, 300, on="doc_id", temperature=2.0)
         .toPandas())
    assert sorted(map(tuple, a.values.tolist())) == \
        sorted(map(tuple, b.values.tolist()))
    # hot temperature boosts the low-resource corpus above natural share
    hot = (mix_corpora(corpora, None, 300, on="doc_id", temperature=8.0)
           .groupBy("source").count().toPandas()
           .set_index("source")["count"].to_dict())
    assert hot["zh"] > 20 and hot["en"] < 200
    # exactly one of weights/temperature
    with _pytest.raises(ValueError):
        mix_corpora(corpora, w, 300, temperature=2.0)
    with _pytest.raises(ValueError):
        mix_corpora(corpora, None, 300)


def test_quality_classifier_matches_numpy_replay(spark):
    """r13 (driver row lands r14): train_quality_classifier's
    decimal-summed full-batch GD must equal an independent numpy replay
    of the same arithmetic (same rounding, same update grouping) — and
    because the sums are exact decimals, retraining on ANY repartition
    of the same rows reproduces the coefficients BIT-identically."""
    import numpy as np
    import pandas as pd

    from catabra_pandas_spark.pipeline import (score_quality_classifier,
                                               train_quality_classifier)

    rng = np.random.RandomState(11)
    n = 4000
    x1 = rng.normal(0, 2, n)
    x2 = rng.normal(5, 3, n)
    logit = 0.8 * x1 - 0.4 * (x2 - 5) - 0.2
    y = (rng.uniform(size=n) < 1 / (1 + np.exp(-logit))).astype(int)
    pdf = pd.DataFrame({"doc_id": np.arange(n), "x1": x1, "x2": x2,
                        "label": y})
    sdf = spark.createDataFrame(pdf)
    model = train_quality_classifier(sdf, "label", ["x1", "x2"],
                                     n_iter=8, lr=1.0)

    # numpy replay with the same decimal-rounded exact sums
    def dsum(v):
        from decimal import Decimal
        return float(sum(Decimal(str(round(t, 12))) for t in v))

    m = [dsum(x1) / n, dsum(x2) / n]
    sc = [np.sqrt(dsum(x1 * x1) / n - m[0] ** 2),
          np.sqrt(dsum(x2 * x2) / n - m[1] ** 2)]
    xs = np.stack([(x1 - m[0]) / sc[0], (x2 - m[1]) / sc[1]], axis=1)
    w = np.zeros(2)
    b = 0.0
    for _ in range(8):
        z = b + xs @ w
        r = 1 / (1 + np.exp(-z)) - y
        b -= 1.0 * (dsum(r) / n)
        gw = [dsum(r * xs[:, j]) for j in range(2)]
        for j in range(2):
            w[j] -= 1.0 * (gw[j] / n + 0.0 * w[j])
    assert np.allclose(model["mean"], m, rtol=0, atol=1e-12)
    assert np.allclose(model["coef"], w, rtol=1e-9, atol=1e-12)
    assert np.isclose(model["intercept"], b, rtol=1e-9, atol=1e-12)

    # bit-identical under repartitioning (the decimal-sum guarantee)
    model2 = train_quality_classifier(sdf.repartition(17, "x2"),
                                      "label", ["x1", "x2"],
                                      n_iter=8, lr=1.0)
    assert model2["coef"] == model["coef"]
    assert model2["intercept"] == model["intercept"]
    assert model2["mean"] == model["mean"]

    # it learned the separation: signs recovered, AUC clearly > 0.5
    assert model["coef"][0] > 0.3 and model["coef"][1] < -0.3
    scored = (score_quality_classifier(sdf, model)
              .select("doc_id", "quality_prob").toPandas()
              .sort_values("doc_id"))
    p = scored["quality_prob"].to_numpy()
    pos, neg = p[y == 1], p[y == 0]
    auc = (pos[:, None] > neg[None, :]).mean()
    assert auc > 0.75

    # scoring is map-only: zero exchanges in the executed plan
    plan = (score_quality_classifier(sdf, model)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 0 and "MapInPandas" not in plan

    # null/NaN features mean-impute (standardized 0), null labels drop
    pdf2 = pdf.copy()
    pdf2.loc[0, "x1"] = np.nan
    sdf2 = spark.createDataFrame(pdf2)
    row = (score_quality_classifier(sdf2, model)
           .filter(F.col("doc_id") == 0).select("quality_prob").first())
    zs = model["intercept"] + model["coef"][1] * \
        (pdf.loc[0, "x2"] - model["mean"][1]) / model["scale"][1]
    assert abs(row[0] - 1 / (1 + np.exp(-zs))) < 1e-12


def _quality_classifier_sql(n_iter: int, lr: float = 1.0) -> str:
    """Unrolled-iteration DuckDB twin of train_quality_classifier +
    score_quality_classifier on the documents table (features n_chars /
    length(text), label lang='en'): the decimal-rounded exact gradient
    sums, the float op GROUPINGS of the update rule, and the left-assoc
    dot product all mirror the Spark implementation term for term.
    Pre-validated here so the r14 driver row can use it verbatim."""
    sig = "1.0/(1.0+exp(-({z})))"

    def z(b, w1, w2):
        return f"{b} + {w1}*xs1 + {w2}*xs2"

    ctes = ["""d AS (
      SELECT doc_id,
             (CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END) AS y,
             n_chars::DOUBLE AS x1, length(text)::DOUBLE AS x2
      FROM documents
      WHERE lang IS NOT NULL AND text IS NOT NULL AND n_chars IS NOT NULL
    )""", """mom AS (
      SELECT count(*) AS n,
             (sum(round(x1,12)::DECIMAL(38,12)))::DOUBLE AS s1x1,
             (sum(round(x1*x1,12)::DECIMAL(38,12)))::DOUBLE AS s2x1,
             (sum(round(x2,12)::DECIMAL(38,12)))::DOUBLE AS s1x2,
             (sum(round(x2*x2,12)::DECIMAL(38,12)))::DOUBLE AS s2x2
      FROM d
    )""", """st AS (
      SELECT n, s1x1/n AS m1,
             sqrt(greatest(s2x1/n - (s1x1/n)*(s1x1/n), 0)) AS sc1,
             s1x2/n AS m2,
             sqrt(greatest(s2x2/n - (s1x2/n)*(s1x2/n), 0)) AS sc2
      FROM mom
    )""", """sd AS (
      SELECT doc_id, y, (x1 - m1)/sc1 AS xs1, (x2 - m2)/sc2 AS xs2
      FROM d CROSS JOIN st
    )""", "w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2)"]
    for i in range(n_iter):
        p = sig.format(z=z(f"w{i}.b", f"w{i}.w1", f"w{i}.w2"))
        ctes.append(f"""g{i + 1} AS (
          SELECT (sum(round(({p} - y),12)::DECIMAL(38,12)))::DOUBLE AS g0,
                 (sum(round(({p} - y)*xs1,12)::DECIMAL(38,12)))::DOUBLE AS gx1,
                 (sum(round(({p} - y)*xs2,12)::DECIMAL(38,12)))::DOUBLE AS gx2
          FROM sd CROSS JOIN w{i}
        )""")
        ctes.append(f"""w{i + 1} AS (
          SELECT w{i}.b - {lr}*(g{i + 1}.g0/st.n) AS b,
                 w{i}.w1 - {lr}*(g{i + 1}.gx1/st.n) AS w1,
                 w{i}.w2 - {lr}*(g{i + 1}.gx2/st.n) AS w2
          FROM w{i} CROSS JOIN g{i + 1} CROSS JOIN st
        )""")
    pfin = sig.format(z=z(f"w{n_iter}.b", f"w{n_iter}.w1", f"w{n_iter}.w2"))
    return ("WITH " + ",\n".join(ctes)
            + f"""
    SELECT doc_id, round({pfin}, 6) AS quality_prob
    FROM sd CROSS JOIN w{n_iter}""")


def test_quality_classifier_duckdb_oracle(spark):
    """Cross-engine rehearsal of the r14 quality_classifier driver row:
    Spark trains 3 GD iterations on the real documents table (label
    lang='en', features n_chars / length(text)) and scores the corpus;
    the DuckDB twin replays the moments, the standardization, every
    unrolled iteration's decimal gradient sums and the final sigmoid —
    doc-for-doc equal at the 6-decimal output rounding."""
    import duckdb

    from catabra_pandas_spark.pipeline import (score_quality_classifier,
                                               train_quality_classifier)
    from catabra_pandas_spark.sources import read_table

    sf = "/root/testdata/sf0.001"
    docs = (read_table(spark, sf, "documents")
            .filter(F.col("lang").isNotNull() & F.col("text").isNotNull()
                    & F.col("n_chars").isNotNull())
            .withColumn("is_en", (F.col("lang") == "en").cast("int"))
            .withColumn("text_len", F.length("text")))
    model = train_quality_classifier(docs, "is_en",
                                     ["n_chars", "text_len"],
                                     n_iter=3, lr=1.0)
    got = (score_quality_classifier(docs, model)
           .select("doc_id", F.round("quality_prob", 6)
                   .alias("quality_prob"))
           .toPandas().sort_values("doc_id").reset_index(drop=True))

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    exp = (con.execute(_quality_classifier_sql(3)).df()
           .sort_values("doc_id").reset_index(drop=True))
    assert len(got) == len(exp) and len(got) > 0
    assert (got["doc_id"] == exp["doc_id"]).all()
    assert (got["quality_prob"] == exp["quality_prob"]).all()


def test_quantile_buckets(spark):
    """r13 (driver row lands r14): CCNet head/middle/tail quantile
    bucketing — exact type-1 per-group thresholds (score at rank
    ceil(cut*n)), ties land in the lower bucket, null/NaN scores get a
    null bucket, and the keyed threshold join is a broadcast."""
    import numpy as np
    import pandas as pd

    from catabra_pandas_spark.pipeline import quantile_buckets

    rng = np.random.RandomState(5)
    rows = []
    for g, n in (("en", 200), ("de", 31), ("zh", 2)):
        for i in range(n):
            rows.append((g, float(rng.randint(0, 40))))  # many ties
    pdf = pd.DataFrame(rows, columns=["lang", "ppl"])
    pdf.loc[0, "ppl"] = float("nan")
    sdf = spark.createDataFrame(pdf)
    got = (quantile_buckets(sdf, "ppl", group_by="lang")
           .toPandas())

    # pandas replay of the exact rank rule
    import math
    for g, sub in pdf.dropna().groupby("lang"):
        s = np.sort(sub["ppl"].to_numpy())
        n = len(s)
        t1 = s[math.ceil((1 / 3) * n) - 1]
        t2 = s[math.ceil((2 / 3) * n) - 1]
        gg = got[(got["lang"] == g) & got["ppl"].notna()]
        exp = np.where(gg["ppl"] <= t1, "head",
                       np.where(gg["ppl"] <= t2, "middle", "tail"))
        assert (gg["bucket"] == exp).all(), g
    assert got.loc[got["ppl"].isna(), "bucket"].isna().all()
    # every non-empty group uses every bucket it can reach
    en = got[got["lang"] == "en"]["bucket"]
    assert set(en.dropna()) == {"head", "middle", "tail"}

    # threshold join is a broadcast; one sort shuffle feeds the ranks
    plan = (quantile_buckets(sdf, "ppl", group_by="lang")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan

    import pytest as _pytest
    with _pytest.raises(ValueError):
        quantile_buckets(sdf, "ppl", labels=("a", "b"))
    with _pytest.raises(ValueError):
        quantile_buckets(sdf, "ppl", cuts=(0.5, 0.2),
                         labels=("a", "b", "c"))
    with _pytest.raises(ValueError):
        quantile_buckets(sdf.withColumnRenamed("lang", "bucket"), "ppl")


_CCNET_BUCKETS_SQL = """
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


def test_ccnet_buckets_duckdb_oracle(spark):
    """Cross-engine rehearsal of the r14 ccnet_buckets driver row: the
    chained CCNet recipe — bigram-LM perplexity scoring, then per-
    LANGUAGE head/middle/tail bucketing at exact 1/3, 2/3 rank
    thresholds (Wenzek 2020 §4.3) — replayed end-to-end by DuckDB.
    Buckets are computed from the 6-decimal-rounded perplexities in
    BOTH engines, so the rank thresholds operate on identical doubles
    (the same rounding contract the green lm_perplexity row proves)."""
    import duckdb

    from catabra_pandas_spark.pipeline import (ngram_perplexity,
                                               quantile_buckets,
                                               train_ngram_lm)
    from catabra_pandas_spark.sources import read_table

    sf = "/root/testdata/sf0.001"
    docs = read_table(spark, sf, "documents")
    model = train_ngram_lm(docs)
    ppl = (ngram_perplexity(docs, model, id_cols=("doc_id", "lang"))
           .select("doc_id", "lang",
                   F.round("perplexity", 6).alias("perplexity")))
    got = (quantile_buckets(ppl, "perplexity", group_by="lang")
           .select("doc_id", "lang", "perplexity", "bucket")
           .toPandas().sort_values("doc_id").reset_index(drop=True))

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    exp = (con.execute(_CCNET_BUCKETS_SQL).df()
           .sort_values("doc_id").reset_index(drop=True))
    assert len(got) == len(exp) and len(got) > 0
    for c in ("doc_id", "lang", "perplexity", "bucket"):
        assert (got[c] == exp[c]).all(), c
    # every language fills all three buckets at this corpus size
    counts = got.groupby(["lang", "bucket"]).size()
    assert set(counts.index.get_level_values("bucket")) == \
        {"head", "middle", "tail"}


_MIX_TEMPERATURE_SQL = """
    WITH sizes AS (SELECT lang, count(*) AS n FROM documents
                   GROUP BY lang),
    wts AS (SELECT lang, pow(n::DOUBLE, 1.0/2.0) AS r FROM sizes),
    tot AS (SELECT sum(r) AS t FROM wts),
    quota AS (SELECT lang, round(r / t * 200) AS q
              FROM wts CROSS JOIN tot),
    ranked AS (
      SELECT doc_id, lang, row_number() OVER (
        PARTITION BY lang
        ORDER BY md5(concat_ws('|', '7', doc_id::VARCHAR, lang))) AS rn
      FROM documents)
    SELECT doc_id, lang AS source FROM ranked JOIN quota USING (lang)
    WHERE rn <= q
"""


def test_mix_corpora_temperature_duckdb_oracle(spark):
    """Cross-engine rehearsal of the r14 mix_temperature driver row:
    mix_corpora(temperature=2) — per-language quotas round(n_l^(1/2) /
    Σ n_k^(1/2) * 200) derived from one count over the tagged union,
    then the deterministic md5-order draw — replayed by DuckDB.  (The
    only cross-engine hazard is Python's round-half-even vs SQL's
    round-half-away on a quota landing exactly on .5 — impossible for
    irrational sqrt weights.)"""
    import duckdb

    from catabra_pandas_spark.pipeline import mix_corpora
    from catabra_pandas_spark.sources import read_table

    sf = "/root/testdata/sf0.001"
    docs = read_table(spark, sf, "documents").select("doc_id", "lang")
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    corpora = {l: docs.filter(F.col("lang") == l) for l in sorted(langs)}
    got = (mix_corpora(corpora, None, 200, on="doc_id", seed=7,
                       temperature=2.0)
           .select("doc_id", "source")
           .toPandas().sort_values("doc_id").reset_index(drop=True))

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    exp = (con.execute(_MIX_TEMPERATURE_SQL).df()
           .sort_values("doc_id").reset_index(drop=True))
    assert len(got) == len(exp) and len(got) > 0
    assert (got["doc_id"] == exp["doc_id"]).all()
    assert (got["source"] == exp["source"]).all()


# ---------------------------------------------------------------------------
# retrieval: doc_frequencies / tfidf_top_terms / bm25_search /
# hashed_tf_embedding — and sampling.assign_shards.
# The SQL strings below are the r14 driver-row oracles, pre-validated here
# verbatim (the quality_classifier / mix_temperature cadence).

_DOC_FREQ_CTES = """
    toks AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                        t -> t <> '')) AS w
      FROM documents),
    dfreq AS (
      SELECT w, count(DISTINCT doc_id) AS n FROM toks GROUP BY w
      ORDER BY n DESC, w ASC LIMIT {max_vocab}),
    corp AS (
      SELECT count(*) AS c,
             coalesce(sum(len(list_filter(string_split(lower(text), ' '),
                                          t -> t <> ''))), 0) AS tt
      FROM documents)
"""

_TFIDF_SQL = """
    WITH """ + _DOC_FREQ_CTES + """,
    tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
    scored AS (
      SELECT doc_id, w AS term,
             tf * (ln((1.0 + c) / (1.0 + n)) + 1.0) AS score,
             row_number() OVER (PARTITION BY doc_id
                ORDER BY tf * (ln((1.0 + c) / (1.0 + n)) + 1.0) DESC,
                         w ASC) AS rank
      FROM tf JOIN dfreq USING (w) CROSS JOIN corp)
    SELECT doc_id, term, round(score, 6) AS tfidf, rank
    FROM scored WHERE rank <= {k}
"""

_BM25_SQL = """
    WITH """ + _DOC_FREQ_CTES + """,
    dl AS (SELECT doc_id, len(list_filter(string_split(lower(text), ' '),
                                          t -> t <> '')) AS dl
           FROM documents),
    qterms AS (SELECT DISTINCT unnest(list_filter(
                 string_split(lower('{query}'), ' '), t -> t <> '')) AS w),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
           WHERE w IN (SELECT w FROM qterms) GROUP BY doc_id, w),
    contrib AS (
      SELECT tf.doc_id,
             ln(1.0 + (c - n + 0.5) / (n + 0.5)) * tf * ({k1} + 1.0)
               / (tf + {k1} * (1.0 - {b} + {b} * dl / (tt::DOUBLE / c))) AS s
      FROM tf JOIN dfreq USING (w) JOIN dl USING (doc_id) CROSS JOIN corp),
    scored AS (SELECT doc_id, sum(s) AS bm25, count(*) AS n_hits
               FROM contrib GROUP BY doc_id)
    SELECT doc_id, round(bm25, 6) AS bm25, n_hits FROM scored
    ORDER BY bm25 DESC, doc_id ASC LIMIT {k}
"""

_HASHED_TF_SQL = """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                        t -> t <> '')) AS w
      FROM documents),
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(w), 1, 8))::BIGINT % {dim} AS b,
             CASE WHEN ('0x' || substr(md5(w), 9, 1))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM toks),
    acc AS (SELECT doc_id, b, sum(s)::DOUBLE AS v
            FROM hashed GROUP BY doc_id, b),
    grid AS (SELECT doc_id, gs.b FROM documents,
             (SELECT unnest(generate_series(0, {dim} - 1)) AS b) gs),
    dense AS (SELECT g.doc_id, g.b, coalesce(a.v, 0.0) AS v
              FROM grid g LEFT JOIN acc a
                ON a.doc_id = g.doc_id AND a.b = g.b),
    norm AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm
             FROM dense GROUP BY doc_id),
    outv AS (SELECT d.doc_id, d.b,
                    round(CASE WHEN nrm > 0
                          THEN (d.v / nrm)::FLOAT::DOUBLE
                          ELSE 0.0 END, 6) AS v
             FROM dense d JOIN norm USING (doc_id))
    SELECT doc_id, list(v ORDER BY b) AS vec FROM outv GROUP BY doc_id
"""

_ASSIGN_SHARDS_SQL = """
    SELECT doc_id,
           ('0x' || substr(md5('42|' || doc_id::VARCHAR), 1, 8))::BIGINT
             % {n} AS shard,
           substr(md5('42|' || doc_id::VARCHAR), 9, 16) AS shard_order
    FROM documents
"""


def test_doc_frequencies_duckdb_oracle(spark, docs):
    import duckdb

    from catabra_pandas_spark.pipeline import doc_frequencies

    stats = doc_frequencies(docs, max_vocab=20)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF}/documents.parquet')")
    exp = dict(con.execute(
        "WITH" + _DOC_FREQ_CTES.format(max_vocab=20)
        + "SELECT w, n FROM dfreq").fetchall())
    assert stats["df"] == exp and len(stats["df"]) == 20
    c, tt = con.execute(
        "WITH" + _DOC_FREQ_CTES.format(max_vocab=20)
        + "SELECT c, tt FROM corp").fetchone()
    assert (stats["n_docs"], stats["total_tokens"]) == (c, tt)
    # cap determinism: same table from a reshuffled input
    stats2 = doc_frequencies(docs.repartition(13), max_vocab=20)
    assert stats2 == stats


def test_tfidf_top_terms_duckdb_oracle(spark, docs):
    import duckdb

    from catabra_pandas_spark.pipeline import doc_frequencies, tfidf_top_terms

    stats = doc_frequencies(docs, max_vocab=500)
    got = (tfidf_top_terms(docs, stats, k=3)
           .withColumn("tfidf", F.round("tfidf", 6)).toPandas()
           .sort_values(["doc_id", "rank"]).reset_index(drop=True))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF}/documents.parquet')")
    exp = (con.execute(_TFIDF_SQL.format(max_vocab=500, k=3)).df()
           .sort_values(["doc_id", "rank"]).reset_index(drop=True))
    assert len(got) == len(exp) and len(got) > 0
    assert (got["doc_id"] == exp["doc_id"]).all()
    assert (got["term"] == exp["term"]).all()
    assert (got["rank"] == exp["rank"]).all()
    assert np.allclose(got["tfidf"], exp["tfidf"], atol=1e-9)
    # partitioning-independent (content-defined scores and ranks)
    got2 = (tfidf_top_terms(docs.repartition(17), stats, k=3)
            .withColumn("tfidf", F.round("tfidf", 6)).toPandas()
            .sort_values(["doc_id", "rank"]).reset_index(drop=True))
    assert (got2["term"] == got["term"]).all()


def test_tfidf_skips_out_of_vocab_docs(spark):
    from catabra_pandas_spark.pipeline import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "zzz qqq"), (3, None), (4, "")],
        "doc_id long, text string")
    stats = {"df": {"alpha": 1, "beta": 1}, "n_docs": 4, "total_tokens": 5}
    out = tfidf_top_terms(df, stats, k=5).toPandas()
    # docs 2 (all OOV), 3 (null), 4 (empty) are omitted
    assert sorted(out.doc_id.unique()) == [1]
    assert list(out.sort_values("rank").term) == ["beta", "alpha"]


def test_bm25_search_duckdb_oracle(spark, docs):
    import duckdb

    from catabra_pandas_spark.pipeline import bm25_search, doc_frequencies

    stats = doc_frequencies(docs, max_vocab=500)
    # three real corpus tokens of middling frequency + one OOV term
    terms = sorted(stats["df"], key=lambda w: (-stats["df"][w], w))
    query = " ".join(terms[2:5] + ["notaword9x"])
    got = (bm25_search(docs, stats, query, k=10)
           .withColumn("bm25", F.round("bm25", 6)).toPandas())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF}/documents.parquet')")
    exp = con.execute(_BM25_SQL.format(
        max_vocab=500, query=" ".join(terms[2:5]), k1=1.2, b=0.75,
        k=10)).df()
    assert len(got) == 10
    assert (got["doc_id"] == exp["doc_id"]).all()
    assert (got["n_hits"] == exp["n_hits"]).all()
    assert np.allclose(got["bm25"], exp["bm25"], atol=1e-9)
    # global top-k is TakeOrdered (no full sort shuffle)
    plan = bm25_search(docs, stats, query, k=10)._jdf \
        .queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_bm25_no_match_and_empty_corpus(spark):
    import pytest as _pytest

    from catabra_pandas_spark.pipeline import bm25_search

    df = spark.createDataFrame([(1, "alpha beta")],
                               "doc_id long, text string")
    stats = {"df": {"alpha": 1}, "n_docs": 1, "total_tokens": 2}
    assert bm25_search(df, stats, "zzz", k=5).count() == 0
    with _pytest.raises(ValueError, match="empty corpus"):
        bm25_search(df, {"df": {}, "n_docs": 0, "total_tokens": 0}, "x")


def test_hashed_tf_embedding_duckdb_oracle(spark, docs):
    import duckdb

    from catabra_pandas_spark.pipeline import hashed_tf_embedding

    got = {r["doc_id"]: [round(float(x), 6) for x in r["embedding"]]
           for r in hashed_tf_embedding(docs, dim=16).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF}/documents.parquet')")
    exp = {r[0]: [round(float(x), 6) for x in r[1]]
           for r in con.execute(_HASHED_TF_SQL.format(dim=16)).fetchall()}
    assert got == exp  # integer accumulation: bit-exact across engines
    # partitioning-independent
    got2 = {r["doc_id"]: [round(float(x), 6) for x in r["embedding"]]
            for r in hashed_tf_embedding(docs.repartition(11),
                                         dim=16).collect()}
    assert got2 == got


def test_hashed_tf_embedding_edge_cases(spark):
    import math

    from catabra_pandas_spark.pipeline import hashed_tf_embedding

    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, ""), (3, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: list(r["embedding"])
           for r in hashed_tf_embedding(df, dim=8).collect()}
    assert set(out) == {1, 2, 3}
    assert all(v == 0.0 for v in out[2]) and all(v == 0.0 for v in out[3])
    assert math.isclose(sum(v * v for v in out[1]), 1.0, rel_tol=1e-6)
    raw = {r["doc_id"]: list(r["embedding"])
           for r in hashed_tf_embedding(df, dim=8,
                                        normalize=False).collect()}
    # unnormalized components are exact signed integer counts
    assert all(float(v).is_integer() for v in raw[1])
    assert sum(abs(v) for v in raw[1]) >= 1.0


def test_hashed_tf_chains_into_cosine_topk(spark, docs):
    """The bridge property: hashed embeddings of an exact text copy are
    identical, so cosine_topk over them reports the planted duplicate
    as a cosine-1.0 top neighbor."""
    from catabra_pandas_spark.pipeline import (cosine_topk,
                                               hashed_tf_embedding)

    d = _with_planted_dups(spark, docs)
    emb = hashed_tf_embedding(d, dim=32).withColumnRenamed("doc_id",
                                                           "vec_id")
    pairs = cosine_topk(emb, emb, k=2).toPandas()
    copies = pairs[(pairs.query_id < 10) & (pairs.neighbor_id ==
                                            pairs.query_id + 10000)]
    assert len(copies) >= 8  # copy is a top-2 neighbor for almost all
    assert np.allclose(copies.cosine_sim, 1.0, atol=1e-6)


def test_assign_shards_duckdb_oracle(spark, docs):
    import duckdb

    from catabra_pandas_spark.pipeline import assign_shards

    out = assign_shards(docs.select("doc_id"), on="doc_id", n_shards=8)
    got = out.toPandas().sort_values("doc_id").reset_index(drop=True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF}/documents.parquet')")
    exp = (con.execute(_ASSIGN_SHARDS_SQL.format(n=8)).df()
           .sort_values("doc_id").reset_index(drop=True))
    assert (got["shard"] == exp["shard"]).all()
    assert (got["shard_order"] == exp["shard_order"]).all()
    # balanced within sampling noise: 500 docs over 8 shards
    counts = got.groupby("shard").size()
    assert len(counts) == 8 and counts.min() > 25 and counts.max() < 100
    # partitioning-independent
    got2 = (assign_shards(docs.select("doc_id").repartition(7),
                          on="doc_id", n_shards=8)
            .toPandas().sort_values("doc_id").reset_index(drop=True))
    assert (got2["shard"] == got["shard"]).all()


def test_assign_shards_validation(spark, docs):
    import pytest as _pytest

    from catabra_pandas_spark.pipeline import assign_shards

    with _pytest.raises(ValueError, match="n_shards"):
        assign_shards(docs, on="doc_id", n_shards=0)
    with _pytest.raises(ValueError, match="already exists"):
        assign_shards(docs.withColumn("shard", F.lit(1)),
                      on="doc_id", n_shards=2)


_BM25_MANY_SQL = """
    WITH """ + _DOC_FREQ_CTES + """,
    dl AS (SELECT doc_id, len(list_filter(string_split(lower(text), ' '),
                                          t -> t <> '')) AS dl
           FROM documents),
    qmap AS ({qmap}),
    qterms AS (SELECT DISTINCT q, unnest(list_filter(
                 string_split(lower(qtext), ' '), t -> t <> '')) AS w
               FROM qmap),
    tf AS (SELECT q, doc_id, w, count(*) AS tf
           FROM toks JOIN qterms USING (w) GROUP BY q, doc_id, w),
    contrib AS (
      SELECT q, tf.doc_id,
             ln(1.0 + (c - n + 0.5) / (n + 0.5)) * tf * ({k1} + 1.0)
               / (tf + {k1} * (1.0 - {b} + {b} * dl / (tt::DOUBLE / c))) AS s
      FROM tf JOIN dfreq USING (w) JOIN dl USING (doc_id) CROSS JOIN corp),
    scored AS (SELECT q, doc_id, sum(s) AS bm25, count(*) AS n_hits
               FROM contrib GROUP BY q, doc_id),
    ranked AS (SELECT q AS query, doc_id, round(bm25, 6) AS bm25, n_hits,
                      row_number() OVER (PARTITION BY q
                        ORDER BY bm25 DESC, doc_id ASC) AS rank
               FROM scored)
    SELECT * FROM ranked WHERE rank <= {k}
"""


def test_bm25_search_many_duckdb_oracle(spark, docs):
    import duckdb

    from catabra_pandas_spark.pipeline import bm25_search_many, doc_frequencies

    stats = doc_frequencies(docs, max_vocab=500)
    terms = sorted(stats["df"], key=lambda w: (-stats["df"][w], w))
    queries = {"qa": " ".join(terms[2:5]), "qb": " ".join(terms[6:8]),
               "qc": terms[10] + " notaword9x"}
    got = (bm25_search_many(docs, stats, queries, k=5)
           .withColumn("bm25", F.round("bm25", 6)).toPandas()
           .sort_values(["query", "rank"]).reset_index(drop=True))
    qmap = " UNION ALL ".join(
        f"SELECT '{n}' AS q, '{t}' AS qtext" for n, t in queries.items())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF}/documents.parquet')")
    exp = (con.execute(_BM25_MANY_SQL.format(
        max_vocab=500, qmap=qmap, k1=1.2, b=0.75, k=5)).df()
           .sort_values(["query", "rank"]).reset_index(drop=True))
    assert len(got) == len(exp) == 15
    for c in ("query", "doc_id", "n_hits", "rank"):
        assert (got[c] == exp[c]).all()
    assert np.allclose(got["bm25"], exp["bm25"], atol=1e-9)


def test_bm25_search_many_matches_single_and_is_stable(spark, docs):
    from catabra_pandas_spark.pipeline import (bm25_search, bm25_search_many,
                                               doc_frequencies)

    stats = doc_frequencies(docs, max_vocab=500)
    terms = sorted(stats["df"], key=lambda w: (-stats["df"][w], w))
    queries = {"qa": " ".join(terms[2:5]), "qb": " ".join(terms[6:8])}
    many = (bm25_search_many(docs, stats, queries, k=7).toPandas()
            .sort_values(["query", "rank"]).reset_index(drop=True))
    for name, qtext in queries.items():
        single = (bm25_search(docs, stats, qtext, k=7).toPandas()
                  .reset_index(drop=True))
        part = many[many["query"] == name].reset_index(drop=True)
        assert list(part["doc_id"]) == list(single["doc_id"])
        assert np.allclose(part["bm25"], single["bm25"], atol=1e-12)
    # local top-k pruning is lossless under any partitioning
    many2 = (bm25_search_many(docs.repartition(23), stats, queries, k=7)
             .toPandas().sort_values(["query", "rank"])
             .reset_index(drop=True))
    assert list(many2["doc_id"]) == list(many["doc_id"])
    # candidate shuffle is the only wide stage beyond the small-source
    # round-robin guard: one Exchange for the per-query window rank
    plan = bm25_search_many(docs, stats, queries, k=7)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2 and "Window" in plan


@_hsettings(max_examples=10, deadline=None)
@_hgiven(nd=_hst.integers(min_value=1, max_value=25),
         max_vocab=_hst.integers(min_value=1, max_value=8),
         dim=_hst.sampled_from([1, 4, 8]),
         seed=_hst.integers(min_value=0, max_value=2**31 - 1))
def test_retrieval_property_vs_brute_force(spark, nd, max_vocab, dim, seed):
    """Independent pure-Python replay of the whole retrieval tier on
    random corpora from a TINY alphabet (so df-count ties, binding caps,
    all-OOV docs and empty docs all occur): doc_frequencies' capped
    table, tfidf_top_terms' scores/ranks, bm25_search's ordering, and
    hashed_tf_embedding's exact components must match the brute force
    bit-for-bit (same log calls, same tie rules)."""
    import hashlib
    import math
    import random
    from collections import Counter

    from catabra_pandas_spark.pipeline import (bm25_search,
                                               doc_frequencies,
                                               hashed_tf_embedding,
                                               tfidf_top_terms)

    rng = random.Random(seed)
    alpha = ["aa", "bb", "cc", "dd", "ee", "ff"]
    texts = []
    for _ in range(nd):
        r = rng.random()
        if r < 0.1:
            texts.append(None)
        elif r < 0.2:
            texts.append("")
        else:
            texts.append(" ".join(rng.choice(alpha)
                                  for _ in range(rng.randint(1, 12))))
    sdf = spark.createDataFrame(list(enumerate(texts)),
                                "doc_id long, text string")
    tok = lambda t: [w for w in t.lower().split(" ") if w] if t else []

    # --- doc_frequencies brute force
    dfc = Counter()
    for t in texts:
        dfc.update(set(tok(t)))
    capped = dict(sorted(dfc.items(), key=lambda kv: (-kv[1], kv[0]))
                  [:max_vocab])
    exp_stats = {"df": capped, "n_docs": nd,
                 "total_tokens": sum(len(tok(t)) for t in texts)}
    stats = doc_frequencies(sdf, max_vocab=max_vocab)
    assert stats == exp_stats

    # --- tfidf brute force (same np.log the operator applies)
    idf = {w: float(np.log((1.0 + nd) / (1.0 + n)) + 1.0)
           for w, n in capped.items()}
    exp_rows = set()
    for i, t in enumerate(texts):
        cnt = {w: c for w, c in Counter(tok(t)).items() if w in capped}
        scored = sorted(((c * idf[w], w) for w, c in cnt.items()),
                        key=lambda sw: (-sw[0], sw[1]))[:2]
        for rk, (s, w) in enumerate(scored, 1):
            exp_rows.add((i, w, round(s, 9), rk))
    got_rows = {(r["doc_id"], r["term"], round(r["tfidf"], 9), r["rank"])
                for r in tfidf_top_terms(sdf, stats, k=2).collect()}
    assert got_rows == exp_rows

    # --- bm25 brute force (same math.log, ascending-term accumulation)
    query = " ".join(rng.choice(alpha + ["zz"]) for _ in range(3))
    qterms = sorted(set(tok(query)) & set(capped))
    if stats["n_docs"] > 0:
        avgdl = exp_stats["total_tokens"] / nd
        exp_bm = []
        for i, t in enumerate(texts):
            toks_i = tok(t)
            s, hits = 0.0, 0
            for w in qterms:
                tf = toks_i.count(w)
                if tf:
                    n = capped[w]
                    widf = math.log(1.0 + (nd - n + 0.5) / (n + 0.5))
                    s += widf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75
                         * len(toks_i) / avgdl))
                    hits += 1
            if hits:
                exp_bm.append((i, round(s, 9), hits))
        exp_bm = sorted(exp_bm, key=lambda r: (-r[1], r[0]))[:4]
        got_bm = [(r["doc_id"], round(r["bm25"], 9), r["n_hits"])
                  for r in bm25_search(sdf, stats, query, k=4).collect()]
        assert got_bm == exp_bm

    # --- hashed embedding brute force (exact integer accumulation)
    got_emb = {r["doc_id"]: list(r["embedding"])
               for r in hashed_tf_embedding(sdf, dim=dim,
                                            normalize=False).collect()}
    for i, t in enumerate(texts):
        vec = [0.0] * dim
        for w in tok(t):
            h = hashlib.md5(w.encode()).hexdigest()
            vec[int(h[:8], 16) % dim] += 1.0 if int(h[8], 16) % 2 == 0 \
                else -1.0
        assert got_emb[i] == vec, (i, got_emb[i], vec)


# ---------------------------------------------------------------------------
# text cleaning: strip_html / normalize_text — r14-ready DuckDB twins.

_STRIP_HTML_SQL = r"""
    SELECT doc_id, regexp_replace(
     regexp_replace(
      regexp_replace(
       regexp_replace(
        replace(replace(replace(replace(replace(replace(replace(
         regexp_replace(
          regexp_replace(
           regexp_replace(
            regexp_replace(
             regexp_replace(
               regexp_replace({col}, '\r\n?', chr(10), 'g'),
               '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
             '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
            '(?s)<!--.*?-->', ' ', 'g'),
           '(?i)<(br\s*/?|/p|/div|/li|/h[1-6]|/tr|/table|/blockquote)>',
           chr(10), 'g'),
          '(?s)<[^>]*>', ' ', 'g'),
         '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         '&#39;', chr(39)), '&apos;', chr(39)), '&amp;', '&'),
        '[ \t]+', ' ', 'g'),
       ' ?\n ?', chr(10), 'g'),
      '\n{{2,}}', chr(10), 'g'),
     '^[ \n]+|[ \n]+$', '', 'g') AS text
    FROM {table}
"""

_NORMALIZE_TEXT_SQL = r"""
    SELECT doc_id, trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(translate(lower({col}), '{src}', '{dst}'),
                         '[̀-ͯ]', '', 'g'),
          '[\x0b\x0c]', ' ', 'g'),
        '[\x00-\x08\x0e-\x1f\x7f]', '', 'g'),
      '\s+', ' ', 'g')) AS text_norm
    FROM {table}
"""


def test_accent_fold_map_is_aligned():
    from catabra_pandas_spark.pipeline.text import _ACCENT_DST, _ACCENT_SRC

    assert len(_ACCENT_SRC) == len(_ACCENT_DST)
    assert len(set(_ACCENT_SRC)) == len(_ACCENT_SRC)  # no dup sources
    m = dict(zip(_ACCENT_SRC, _ACCENT_DST))
    for ch, tgt in m.items():
        # uppercase and lowercase forms fold to case-matching targets
        lo, up = ch.lower(), ch.upper()
        if lo in m and up in m:
            assert m[lo] == m[up].lower(), (ch, m[lo], m[up])
        assert tgt.isascii() and tgt.isalpha()
    # after F.lower() the runtime map keys collapse: duplicates must agree
    lowered = {}
    for s, d in zip(_ACCENT_SRC.lower(), _ACCENT_DST.lower()):
        assert lowered.setdefault(s, d) == d, s


def test_strip_html_duckdb_oracle(spark):
    import duckdb

    from catabra_pandas_spark.pipeline import strip_html

    rows = [
        (1, "<html><head><style>body{x}</style>"
            "<SCRIPT src='x'>var a='<p>';</script></head>"
            "<body><h1>Title</h1><p>First &amp; second &lt;p&gt;.</p>"
            "<div>Block</div><ul><li>one</li><li>two</li></ul>"
            "<!-- hidden --><p>After&nbsp;c &#39;q&#39;</p></body>"),
        (2, "no markup"),
        (3, "<p>a</p>\n\n\n<p>b</p>"),
        (4, None),
        (5, "<br>l1<br/>l2<BR >l3<b>bold</b>text"),
        (6, "&amp;lt; stays escaped once"),
        (7, "<p>win\r\ndows</p>\r\n<p>crlf</p>\r\n"),
    ]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"]
           for r in strip_html(sdf).select("doc_id", "text").collect()}
    assert got[1] == ("Title\nFirst & second <p>.\nBlock\none\ntwo\n"
                      "After c 'q'")
    assert got[2] == "no markup" and got[4] is None
    assert got[5] == "l1\nl2\nl3 bold text"
    assert got[6] == "&lt; stays escaped once"  # no double-decode
    assert got[7] == "win\ndows\ncrlf"  # CRLF normalized, no stray \r
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    exp = dict(con.execute(_STRIP_HTML_SQL.format(
        col="text", table="docs")).fetchall())
    assert got == exp


def test_normalize_text_duckdb_oracle(spark):
    import duckdb

    from catabra_pandas_spark.pipeline import normalize_text
    from catabra_pandas_spark.pipeline.text import _ACCENT_DST, _ACCENT_SRC

    rows = [(1, "Café  MENÜ\tréservé"), (2, "naïve façade łódź"),
            (3, "étude"),  # decomposed: e + combining acute
            (4, "ctrl\x01chars\x7fhere"), (5, None),
            (8, "page one\x0cpage two\x0bend"),
            (6, "  spaces   and\nnewlines "), (7, "ŽÁDNÝ PŘÍKLAD")]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text_norm"]
           for r in normalize_text(sdf).collect()}
    assert got[1] == "cafe menu reserve"
    assert got[2] == "naive facade lodz"
    assert got[3] == "etude"  # decomposed form folds like composed
    assert got[4] == "ctrlcharshere"
    assert got[8] == "page one page two end"  # \x0c/\x0b are separators
    assert got[5] is None
    assert got[6] == "spaces and newlines"
    assert got[7] == "zadny priklad"
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    exp = dict(con.execute(_NORMALIZE_TEXT_SQL.format(
        col="text", table="t", src=_ACCENT_SRC.lower(),
        dst=_ACCENT_DST.lower())).fetchall())
    assert got == exp
    # canonicalization makes variant spellings exact-dedup-able
    sdf2 = spark.createDataFrame(
        [(1, "Café Menu"), (2, "cafe  menu"), (3, "CAFE\tMENU")],
        "doc_id long, text string")
    norms = {r["text_norm"] for r in normalize_text(sdf2).collect()}
    assert norms == {"cafe menu"}


def test_artifact_roundtrip_all_model_shapes(spark, docs, emb, tmp_path):
    """Every training artifact the engine produces survives
    save_artifact/load_artifact STRUCTURALLY IDENTICAL — tuple keys,
    dtypes and all — and the loaded artifact SCORES identically (the
    train-once / score-everywhere contract a multi-day pipeline needs)."""
    from catabra_pandas_spark.pipeline import (bpe_tokenize,
                                               doc_frequencies,
                                               load_artifact,
                                               ngram_perplexity,
                                               save_artifact,
                                               score_quality_classifier,
                                               train_bpe, train_ngram_lm,
                                               train_quality_classifier)

    small = docs.limit(50)

    lm = train_ngram_lm(small, max_vocab=100, max_bigrams=300)
    p = str(tmp_path / "lm.json")
    save_artifact(lm, p)
    lm2 = load_artifact(p)
    assert lm2 == lm  # incl. tuple-keyed bigram table
    assert all(isinstance(k, tuple) for k in lm2["bigrams"])
    a = ngram_perplexity(small, lm).toPandas().sort_values("doc_id")
    b = ngram_perplexity(small, lm2).toPandas().sort_values("doc_id")
    assert (a["perplexity"].to_numpy() == b["perplexity"].to_numpy()).all()

    stats = doc_frequencies(small, max_vocab=50)
    p = str(tmp_path / "df.json")
    save_artifact(stats, p)
    assert load_artifact(p) == stats

    merges = train_bpe(small, n_merges=20, max_words=500)
    p = str(tmp_path / "bpe.json")
    save_artifact(merges, p)
    merges2 = load_artifact(p)
    assert merges2 == merges
    ta = bpe_tokenize(small, merges, tokens_col="toks").toPandas() \
        .sort_values("doc_id")
    tb = bpe_tokenize(small, merges2, tokens_col="toks").toPandas() \
        .sort_values("doc_id")
    assert list(map(list, ta["toks"])) == list(map(list, tb["toks"]))
    assert (ta["n_bpe_tokens"].to_numpy()
            == tb["n_bpe_tokens"].to_numpy()).all()

    labeled = small.withColumn("__y__",
                               (F.col("doc_id") % 2 == 0).cast("int"))
    qc = train_quality_classifier(labeled, "__y__", ["n_chars"], n_iter=3)
    p = str(tmp_path / "qc.json")
    save_artifact(qc, p)
    qc2 = load_artifact(p)
    assert qc2 == qc
    sa = score_quality_classifier(labeled, qc).toPandas() \
        .sort_values("doc_id")
    sb = score_quality_classifier(labeled, qc2).toPandas() \
        .sort_values("doc_id")
    assert (sa["quality_prob"].to_numpy()
            == sb["quality_prob"].to_numpy()).all()

    # numpy payloads (codebook-style) keep dtype/shape; "__t__" keys in
    # plain dicts survive the escaping
    art = {"mat": np.arange(6, dtype=np.float32).reshape(2, 3),
           "scal": np.float64(1.5), "nested": [(1, "a"), (2, "b")],
           "__t__": "not-a-tag"}
    p = str(tmp_path / "np.json")
    save_artifact(art, p)
    back = load_artifact(p)
    assert (back["mat"] == art["mat"]).all() \
        and back["mat"].dtype == np.float32 and back["mat"].shape == (2, 3)
    assert back["scal"] == 1.5 and isinstance(back["scal"], np.float64)
    assert back["nested"] == [(1, "a"), (2, "b")]
    assert back["__t__"] == "not-a-tag"

    import pytest as _pytest
    with _pytest.raises(ValueError, match="artifact"):
        bad = str(tmp_path / "bad.json")
        open(bad, "w").write("{}")
        load_artifact(bad)
    # object-dtype arrays fail LOUDLY (lossy round-trip) and never
    # truncate an existing file: serialization precedes the open
    good = str(tmp_path / "keep.json")
    save_artifact({"ok": 1}, good)
    with _pytest.raises(TypeError, match="dtype"):
        save_artifact({"bad": np.array([(1, 2)], dtype=object)}, good)
    assert load_artifact(good) == {"ok": 1}


def test_exact_substring_skew_leg_matches_window_leg(spark, monkeypatch):
    """_dup_window_starts picks between the single-exchange analytic
    count (small inputs) and the skew-safe checkpoint + combinable
    groupBy + semi-join (past the shared materialization gate, r14).
    Both legs must produce identical stats AND identical deduped text."""
    import catabra_pandas_spark.util as U
    from catabra_pandas_spark.pipeline import (exact_substring_dedup,
                                               exact_substring_stats)

    boiler = "all rights reserved click here to subscribe"
    docs = pd.DataFrame({"doc_id": [1, 2, 3, 4, 5], "text": [
        f"unique alpha content {boiler} unique beta tail",
        f"{boiler} a completely different continuation follows here",
        "nothing shared with anything else at all here",
        "tiny",
        "repeat me again and again repeat me again and again",
    ]})
    sdf = spark.createDataFrame(docs)
    small_stats = exact_substring_stats(sdf, width=5).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    small_dedup = exact_substring_dedup(sdf, width=5).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    monkeypatch.setattr(U, "materialization_gate", lambda df, **k: True)
    big_stats = exact_substring_stats(sdf, width=5).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    big_dedup = exact_substring_dedup(sdf, width=5).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(small_stats, big_stats)
    pd.testing.assert_frame_equal(small_dedup, big_dedup)


def test_ngram_cap_skew_leg_matches_window_leg(spark, monkeypatch):
    """ngram_jaccard_pairs' hot-shingle cap picks between the analytic
    doc-freq window (small inputs) and the skew-safe checkpoint +
    combinable groupBy + left_anti (past the gate, r14).  Both legs must
    produce identical pair sets and jaccards."""
    import catabra_pandas_spark.util as U
    from catabra_pandas_spark.pipeline import ngram_jaccard_pairs

    texts = ["the quick brown fox jumps over the lazy dog",
             "the quick brown fox jumps over the lazy cat",
             "a completely different document body here now",
             "a completely different document body here too",
             "the quick brown fox leaps over the lazy dog"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts * 4)],
        "doc_id long, text string")
    kw = dict(k=3, threshold=0.1, max_doc_freq=6)
    monkeypatch.setattr(U, "materialization_gate", lambda df, **k2: False)
    small = ngram_jaccard_pairs(docs, **kw).toPandas() \
        .sort_values(["id_a", "id_b"]).reset_index(drop=True)
    monkeypatch.setattr(U, "materialization_gate", lambda df, **k2: True)
    big = ngram_jaccard_pairs(docs, **kw).toPandas() \
        .sort_values(["id_a", "id_b"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(small, big)
    assert len(small) > 0


def _stored_rdd_ids(spark) -> set:
    return {int(i.id())
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _new_stored_rdds(spark, before: set, timeout: float = 10.0) -> set:
    """Ids of RDDs stored now that were not stored in the ``before``
    snapshot.  unpersist(blocking=False) is async, so poll until none is
    left (or the timeout expires).  Comparing ids, not counts, keeps
    unrelated RDDs released meanwhile from masking a leak."""
    import time

    t0 = time.time()
    new = _stored_rdd_ids(spark) - before
    while new and time.time() - t0 < timeout:
        time.sleep(0.2)
        new = _stored_rdd_ids(spark) - before
    return new


def test_kmeans_codebook_cache_released_on_failure(spark):
    """The Lloyd-loop persist must be released even when an iteration
    blows up (VERDICT r13 item 3): a ragged vector batch fails the
    assignment matmul AFTER the init collect has populated the cache;
    the try/finally must still unpersist it."""
    from catabra_pandas_spark.pipeline import kmeans_codebook

    before = _stored_rdd_ids(spark)
    vecs = [[float(i), float(i + 1)] for i in range(12)]
    vecs[7] = [1.0, 2.0, 3.0]  # ragged: breaks np.asarray(...).shape
    sdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception):
        kmeans_codebook(sdf, n_centroids=2, n_iter=2, dim=2)
    assert _new_stored_rdds(spark, before) == set()


def test_train_ngram_lm_releases_cache(spark, monkeypatch):
    """The grouped-counts checkpoint must leave no stored RDD behind
    (r14: released via util.release_local_checkpoint — Dataset.unpersist
    is a no-op for checkpoint blocks, ADVICE r13), for both the single
    trainer (gate forced open so the tagged-scan leg runs) and the pair
    trainer (always checkpointed)."""
    from pyspark.sql import functions as F

    import catabra_pandas_spark.util as U
    from catabra_pandas_spark.pipeline import (train_ngram_lm,
                                               train_ngram_lm_pair)

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3)
         for i in range(50)], "doc_id long, text string")
    before = _stored_rdd_ids(spark)
    monkeypatch.setattr(U, "materialization_gate", lambda df, **k: True)
    model = train_ngram_lm(docs)
    assert model["unigrams"]["the"] > 0
    assert _new_stored_rdds(spark, before) == set()
    tgt, raw = train_ngram_lm_pair(docs, F.col("doc_id") % 2 == 0)
    assert raw == model
    assert _new_stored_rdds(spark, before) == set()


def test_train_ngram_lm_gate_legs_identical(spark, monkeypatch):
    """The single trainer's two legs — two narrow scans below the
    materialization gate, one tagged scan + checkpoint above it — must
    retain IDENTICAL models (same entries, same counts, same V), caps
    included."""
    import catabra_pandas_spark.util as U
    from catabra_pandas_spark.pipeline import train_ngram_lm

    texts = ["alpha beta gamma beta alpha", "beta gamma delta",
             "alpha alpha beta", "", "gamma delta epsilon zeta eta theta"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts * 10)],
        "doc_id long, text string")
    monkeypatch.setattr(U, "materialization_gate", lambda df, **k: False)
    small = train_ngram_lm(docs, max_vocab=4, max_bigrams=6)
    monkeypatch.setattr(U, "materialization_gate", lambda df, **k: True)
    big = train_ngram_lm(docs, max_vocab=4, max_bigrams=6)
    assert small == big
    # uncapped agreement too
    monkeypatch.setattr(U, "materialization_gate", lambda df, **k: False)
    small_u = train_ngram_lm(docs)
    monkeypatch.setattr(U, "materialization_gate", lambda df, **k: True)
    assert small_u == train_ngram_lm(docs)

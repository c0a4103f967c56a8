"""Registry/strategy API tests + LLM-pipeline ext tests."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


def test_registry_dispatch(bars):
    import pandas_ta_spark as pts
    from pandas_ta_spark.registry import Category, make

    names = pts.indicators()
    assert len(names) >= 100
    assert "rsi" in names and "supertrend" in names
    out = pts.ta(bars, "sma", length=5)
    assert "SMA_5" in out.columns
    assert set(Category) >= {"overlap", "momentum", "trend", "volatility",
                             "volume", "statistics", "performance", "candles"}
    with pytest.raises(ValueError, match="unknown indicator"):
        make("nope")


def test_strategy_single_plan(bars):
    """A multi-indicator strategy stays ONE plan: exactly one
    applyInPandas pass for all kernels, shared window exchange."""
    from pandas_ta_spark.operators import momentum, overlap, volatility
    from pandas_ta_spark.plans.strategy import apply_strategy

    inds = [overlap.sma(20), overlap.ema(10), momentum.rsi(14),
            momentum.macd(), volatility.bbands()]
    out = apply_strategy(bars, inds)
    for col in ("SMA_20", "EMA_10", "RSI_14", "MACD_12_26_9", "BBL_5_2.0"):
        assert col in out.columns, col
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1  # kernels batched
    # windows + the single kernel pass share one hash(symbol) exchange
    # (input is an in-memory repartition here, so only that one appears)
    assert plan.count("Exchange") <= 2, plan.count("Exchange")
    assert out.count() == 550


def test_all_indicator_strategy_builds_and_runs(bars):
    """Regression: the EVERYTHING-in-one-plan strategy (bench's all-145
    headline) must build and compute. The r8 conflicting-temp guard in
    apply_strategy raises at PLAN BUILD time when two indicators share a
    temp column with different expressions — increasing+decreasing
    (strict) collided on '_creasing_step' and no test exercised the full
    set together, so bench/audit crashed while pytest stayed green."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from bench import all_indicators
    from pandas_ta_spark.plans.strategy import apply_strategy

    inds = all_indicators()
    out = apply_strategy(bars, inds)  # the temp-conflict guard fires here
    outputs = {o for ind in inds for o in ind.outputs}
    missing = outputs - set(out.columns)
    assert not missing, sorted(missing)[:5]
    assert out.count() == 550


def test_short_symbol_groups_survive(spark):
    """verify_series analogue: groups shorter than the window/seed emit
    NULLs, never crash — kernels and windows alike."""
    import pandas as pd

    pdf = pd.DataFrame({
        "symbol": ["X"] * 3 + ["Y"],
        "ts": pd.date_range("2024-01-01", periods=4, freq="h"),
        "open": 1.0, "high": 2.0, "low": 0.5, "close": [1.0, 1.1, 0.9, 1.2],
        "volume": 10.0,
    })
    bars = spark.createDataFrame(pdf)
    from pandas_ta_spark.plans.strategy import apply_strategy
    from pandas_ta_spark.registry import make

    out = apply_strategy(
        bars, [make("sma", length=14), make("rsi", length=14),
               make("supertrend"), make("macd")]
    ).toPandas()
    assert len(out) == 4
    assert out["SMA_14"].isna().all()
    assert out["RSI_14"].isna().all()


def test_ma_dispatcher(bars):
    from pandas_ta_spark.operators.overlap import ma

    out = ma("wma", length=5).apply(bars)
    assert "WMA_5" in out.columns


def test_signals(bars):
    from pyspark.sql import functions as F

    from pandas_ta_spark.functions import signals
    from pandas_ta_spark.functions.windows import roll

    df = bars.withColumn("sma5", roll(F.avg, "close", 5)).withColumn(
        "xa", signals.cross("close", "sma5", above=True)
    )
    pdf = df.orderBy("symbol", "ts").toPandas()
    assert set(pdf["xa"].dropna().unique()) <= {0, 1}
    assert pdf["xa"].sum() > 0  # crossings exist in a random walk


def test_dedup_exact_finds_injected_dup(spark, tmp_path):
    import duckdb

    docs = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": ["alpha beta gamma", "unique doc here",
                 "  Alpha beta GAMMA  ", "another one"],
        "lang": ["en"] * 4,
        "source": ["s"] * 4,
        "n_chars": [16, 15, 20, 11],
    })
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    from pandas_ta_spark.ext.dedup import SUITE

    out = SUITE["dedup_exact"].query(spark, sf).toPandas()
    dups = out[out["n_dups"] == 2]
    assert len(dups) == 1
    assert dups["keeper_doc_id"].iloc[0] == 0  # case/whitespace-insensitive


def test_minhash_catches_near_dup(spark, tmp_path):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [base, base.replace("today", "tomorrow"),
                 "completely different words about spark window functions here"],
        "lang": ["en"] * 3,
        "source": ["s"] * 3,
        "n_chars": [len(base)] * 3,
    })
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    from pandas_ta_spark.ext.dedup import SUITE

    out = SUITE["dedup_minhash_lsh"].query(spark, sf).toPandas()
    pairs = set(zip(out["doc_a"], out["doc_b"]))
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_cc_clusters_merge_chain(spark, tmp_path):
    # doc0~doc1 and doc1~doc2 are near-dup pairs but doc0~doc2 may not
    # be: only transitive closure puts all three in ONE cluster
    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today while the sun shines bright over the green hills")
    docs = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [base,
                 base.replace("today", "tomorrow"),
                 base.replace("today", "tomorrow").replace("quick", "slow"),
                 "completely different words about spark window functions"],
        "lang": ["en"] * 4,
        "source": ["s"] * 4,
        "n_chars": [len(base)] * 4,
    })
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    from pandas_ta_spark.ext.dedup import SUITE

    out = SUITE["dedup_cc_clusters"].query(spark, sf).toPandas()
    by_doc = dict(zip(out["doc_id"], out["cluster_id"]))
    assert by_doc[0] == by_doc[1] == by_doc[2] == 0  # one cluster, min label
    assert 3 not in by_doc  # isolated doc is not in any cluster
    assert set(out[out["cluster_id"] == 0]["n_members"]) == {3}


def test_cc_deep_chain_converges(spark):
    """Pointer-jumping pin: a PATH graph of depth 1500 converges within
    CC_MAX_ITERS=20 rounds (log2(1500) ~ 11 with label doubling; plain
    min-label propagation would need 1499 rounds and raise). Chain-shaped
    clusters are real at scale — successive crawl snapshots, the
    x100-replica gate's perturbed embeddings — so O(diameter) rounds is
    a 100 TB scale bug, not a corner case."""
    from pandas_ta_spark.ext.dedup import _cc_loop

    n = 1500
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long")
    out = _cc_loop(pairs).toPandas()
    assert len(out) == n
    assert (out["cluster_id"] == 0).all()
    assert (out["n_members"] == n).all()


def test_topk_cosine_finds_nearest(spark, tmp_path):
    rng = np.random.default_rng(3)
    base = rng.normal(0, 1, 64).astype(np.float32)
    rows = []
    for i in range(30):
        if i == 7:
            v = base + rng.normal(0, 0.01, 64).astype(np.float32)  # near query 0
        elif i == 0:
            v = base
        else:
            v = rng.normal(0, 1, 64).astype(np.float32)
        rows.append({"vec_id": i, "embedding": v.tolist(), "label": i % 3})
    pd.DataFrame(rows).to_parquet(f"{tmp_path}/embeddings.parquet")
    from pandas_ta_spark.ext.similarity import SUITE

    out = SUITE["topk_cosine"].query(spark, str(tmp_path)).toPandas()
    top1 = out[(out["query_id"] == 0) & (out["rank"] == 1)]
    assert top1["match_id"].iloc[0] == 7
    assert top1["score"].iloc[0] > 0.99


def test_topk_ivf_finds_nearest(spark, tmp_path):
    # same planted-neighbor setup as the brute-force test: IVF must keep
    # the true top-1 (query 0 and its near-copy land in the same inverted
    # list because they are near-identical vectors)
    rng = np.random.default_rng(3)
    base = rng.normal(0, 1, 64).astype(np.float32)
    rows = []
    for i in range(30):
        if i == 7:
            v = base + rng.normal(0, 0.01, 64).astype(np.float32)
        elif i == 0:
            v = base
        else:
            v = rng.normal(0, 1, 64).astype(np.float32)
        rows.append({"vec_id": i, "embedding": v.tolist(), "label": i % 3})
    pd.DataFrame(rows).to_parquet(f"{tmp_path}/embeddings.parquet")
    from pandas_ta_spark.ext.similarity import SUITE

    out = SUITE["topk_cosine_ivf"].query(spark, str(tmp_path)).toPandas()
    top1 = out[(out["query_id"] == 0) & (out["rank"] == 1)]
    assert top1["match_id"].iloc[0] == 7
    assert top1["score"].iloc[0] > 0.99
    # every query returns at most TOP_K rows and probes cut the corpus:
    # no query may rank more matches than the brute-force TOP_K
    assert out.groupby("query_id")["rank"].max().le(5).all()


def test_shard_pack_boundaries(spark, tmp_path):
    # 3 docs x 10 tokens, budget 500 -> all one shard? no: use texts sized
    # so the exclusive prefix sum crosses one budget boundary exactly
    import pandas_ta_spark.ext.sampling as S

    ten = " ".join(["tok"] * 10)
    big = " ".join(["tok"] * (S.SHARD_TOKEN_BUDGET - 5))
    docs = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [big, ten, ten],  # excl sums: 0, B-5, B+5 -> shards 0,0,1
        "lang": ["en"] * 3,
        "source": ["s"] * 3,
        "n_chars": [len(big), len(ten), len(ten)],
    })
    docs.to_parquet(f"{tmp_path}/documents.parquet")
    out = (S.SUITE["shard_pack_tokens"].query(spark, str(tmp_path))
           .toPandas().sort_values("shard_id").reset_index(drop=True))
    assert list(out["shard_id"]) == [0, 1]
    assert list(out["n_docs"]) == [2, 1]
    assert list(out["n_tokens"]) == [S.SHARD_TOKEN_BUDGET + 5, 10]
    assert list(out["first_doc_id"]) == [0, 2]


def test_sample_hash_is_stable(spark, tmp_path):
    # the same doc_ids must select identically regardless of which other
    # rows are present (pure per-row decision — the reproducibility claim)
    import pandas_ta_spark.ext.sampling as S

    def mk(ids):
        pd.DataFrame({
            "doc_id": ids, "text": ["x y z"] * len(ids),
            "lang": ["en"] * len(ids), "source": ["src0"] * len(ids),
            "n_chars": [5] * len(ids),
        }).to_parquet(f"{tmp_path}/documents.parquet")
        out = S.SUITE["sample_hash_deterministic"].query(spark, str(tmp_path)).toPandas()
        return dict(zip(out["doc_id"], out["sampled"]))

    full = mk(list(range(200)))
    half = mk(list(range(0, 200, 2)))
    assert all(full[i] == half[i] for i in range(0, 200, 2))
    assert 0 < sum(full.values()) < 200  # threshold actually splits


def test_text_stats_values(spark, tmp_path):
    docs = pd.DataFrame({
        "doc_id": [0],
        "text": ["the cat and the hat"],
        "lang": ["en"], "source": ["s"], "n_chars": [19],
    })
    docs.to_parquet(f"{tmp_path}/documents.parquet")
    from pandas_ta_spark.ext.text import SUITE

    out = SUITE["text_stats"].query(spark, str(tmp_path)).toPandas().iloc[0]
    assert out["n_tokens"] == 5
    assert out["n_unique_tokens"] == 4
    assert out["n_stopwords"] == 3  # the, and, the
    assert abs(out["stopword_ratio"] - 0.6) < 1e-12


def test_media_features_pipeline(spark, tmp_path):
    docs = pd.DataFrame({
        "doc_id": [0, 1],
        "text": ["abc", "defgh"],
        "lang": ["en"] * 2, "source": ["s"] * 2, "n_chars": [3, 5],
    })
    docs.to_parquet(f"{tmp_path}/documents.parquet")
    from pandas_ta_spark.ext.media import SUITE

    out = SUITE["media_features"].query(spark, str(tmp_path)).toPandas()
    out = out.sort_values("doc_id").reset_index(drop=True)
    assert list(out["n_bytes"]) == [3, 5]
    assert out["mean_byte"].between(0, 255).all()


def test_media_injected_decoder(spark, tmp_path):
    """The decode_stub plug-in boundary works end to end (VERDICT r9
    ask #6): a registered decoder (captured at plan time into the
    mapInPandas closure) drives the real branch of extract_features /
    sample_frames / resize_thumb; an undecodable payload degrades
    per-row (ValueError contract) instead of aborting; and clearing the
    decoder restores the oracle-checked byte fallback."""
    import hashlib

    docs = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["alpha beta gamma delta epsilon zeta eta theta",
                 "BAD",  # the decoder refuses this payload
                 "one two three four five six seven eight nine ten"],
        "lang": ["en"] * 3, "source": ["s"] * 3,
        "n_chars": [45, 3, 48],
    })
    docs.to_parquet(f"{tmp_path}/documents.parquet")
    from pandas_ta_spark.ext import media as M

    def fake_decoder(payload: bytes, kind: str):
        if payload == b"BAD":
            raise ValueError("undecodable")
        a = np.frombuffer(payload, dtype=np.uint8)
        if kind == "video":  # frame axis 0: 16-byte "frames"
            fc = len(a) // M.FRAME_BYTES
            return a[: fc * M.FRAME_BYTES].reshape(fc, M.FRAME_BYTES)
        return a  # image/audio: 1-D byte tensor

    sf = str(tmp_path)
    try:
        M.set_decoder(fake_decoder)
        feats = (M.SUITE["media_features"].query(spark, sf).toPandas()
                 .sort_values("doc_id").reset_index(drop=True))
        # decoded rows: 1-D tensor -> frame_count 1 (the fallback would
        # say n_bytes//16 — proves the REAL branch ran), hash of the
        # WHOLE decoded array, exact mean of its bytes
        for i in (0, 2):
            raw = docs["text"][i].encode()
            assert feats["frame_count"][i] == 1
            assert feats["first_frame_hash"][i] == hashlib.md5(
                raw.hex().upper().encode()).hexdigest()
            exp = np.floor(np.frombuffer(raw, np.uint8).mean() * 1e6 + 0.5) / 1e6
            assert feats["mean_byte"][i] == exp
        # ValueError payload: row kept, tensor features NULL
        assert feats["n_bytes"][1] == 3
        assert pd.isna(feats["frame_count"][1])
        assert pd.isna(feats["first_frame_hash"][1])

        # video decoder reproduces the byte-slicing fallback EXACTLY
        # (same frame grid), proving the sampled-index plumbing
        frames_real = (M.SUITE["media_frame_sample"].query(spark, sf)
                       .toPandas())
        assert (frames_real["doc_id"] != 1).all()  # zero frames for BAD
        thumbs = M.SUITE["media_resize_8"].query(spark, sf).toPandas()
        assert (thumbs["doc_id"] != 1).all()
    finally:
        M.clear_decoder()
    frames_fb = M.SUITE["media_frame_sample"].query(spark, sf).toPandas()
    a = (frames_real.sort_values(["doc_id", "sample_j"])
         .reset_index(drop=True))
    b = (frames_fb[frames_fb["doc_id"] != 1]
         .sort_values(["doc_id", "sample_j"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
    # fallback restored: BAD has 0 frames either way (3 bytes < 16) but
    # features flow through the vectorized path again
    feats_fb = (M.SUITE["media_features"].query(spark, sf).toPandas()
                .sort_values("doc_id").reset_index(drop=True))
    assert feats_fb["frame_count"][0] == len(docs["text"][0]) // 16


def test_media_decoder_nie_fallback_and_empty_video(spark, tmp_path):
    """The two remaining decoder-contract legs: a registered decoder
    raising NotImplementedError routes the WHOLE batch to the byte
    fallback (bit-identical to no-decoder output, never an abort), and
    an empty video tensor (shape (0, ...)) is a legal decode — features
    report frame_count 0, frame sampling emits zero rows."""
    docs = pd.DataFrame({
        "doc_id": [0, 1],
        "text": ["alpha beta gamma delta epsilon zeta eta theta",
                 "one two three four five six seven eight nine ten"],
        "lang": ["en"] * 2, "source": ["s"] * 2, "n_chars": [45, 48],
    })
    docs.to_parquet(f"{tmp_path}/documents.parquet")
    from pandas_ta_spark.ext import media as M

    sf = str(tmp_path)
    base_feats = (M.SUITE["media_features"].query(spark, sf).toPandas()
                  .sort_values("doc_id").reset_index(drop=True))
    base_frames = (M.SUITE["media_frame_sample"].query(spark, sf)
                   .toPandas().sort_values(["doc_id", "sample_j"])
                   .reset_index(drop=True))

    def refusing_decoder(payload: bytes, kind: str):
        raise NotImplementedError(f"no {kind} support in this deployment")

    def empty_video_decoder(payload: bytes, kind: str):
        # a zero-frame video-shaped tensor: pre-fix, features' a[0]
        # raised IndexError and aborted the task
        return np.empty((0, 4, 4), dtype=np.uint8)

    try:
        M.set_decoder(refusing_decoder)
        got_feats = (M.SUITE["media_features"].query(spark, sf).toPandas()
                     .sort_values("doc_id").reset_index(drop=True))
        got_frames = (M.SUITE["media_frame_sample"].query(spark, sf)
                      .toPandas().sort_values(["doc_id", "sample_j"])
                      .reset_index(drop=True))
        pd.testing.assert_frame_equal(got_feats, base_feats)
        pd.testing.assert_frame_equal(got_frames, base_frames)
        thumbs = M.SUITE["media_resize_8"].query(spark, sf).toPandas()
        assert len(thumbs) == 2 * M.N_THUMB_SEGS  # fallback segments

        M.set_decoder(empty_video_decoder)
        feats = (M.SUITE["media_features"].query(spark, sf).toPandas()
                 .sort_values("doc_id").reset_index(drop=True))
        assert (feats["frame_count"] == 0).all()
        assert (feats["mean_byte"] == 0.0).all()
        frames = M.SUITE["media_frame_sample"].query(spark, sf).toPandas()
        assert len(frames) == 0
    finally:
        M.clear_decoder()


def test_media_features_kind_dispatch(spark):
    """extract_features calls the decoder with each asset's ACTUAL kind
    from media_meta.mime (ADVICE r10): a video/* asset is decoded as
    video and gets the frame-axis contract (frame_count = shape[0] even
    for a 2-d (n_frames, frame_len) return), an image/* asset as image,
    and an unknown mime defaults to image."""
    import hashlib

    from pandas_ta_spark.ext import media as M
    from pyspark.sql import functions as F

    rows = [(0, b"0123456789abcdef" * 3, "video/mp4"),
            (1, b"0123456789abcdef" * 3, "image/png"),
            (2, b"0123456789abcdef" * 3, "application/fake")]
    df = (spark.createDataFrame(rows, "doc_id long, content binary, mime string")
          .select("doc_id", "content",
                  F.struct(F.col("mime"),
                           F.length("content").alias("n_bytes"),
                           F.lit(1).alias("width"),
                           F.lit(1).alias("height")).alias("media_meta")))

    seen = {}

    def kind_decoder(payload: bytes, kind: str):
        a = np.frombuffer(payload, dtype=np.uint8)
        if kind == "video":  # contract: axis 0 is the frame axis
            return a.reshape(3, 16)
        return a

    try:
        M.set_decoder(kind_decoder)
        got = (M.extract_features(df).toPandas()
               .sort_values("doc_id").reset_index(drop=True))
    finally:
        M.clear_decoder()

    # video asset: 3 frames, first-frame hash over 16 bytes (the
    # _md5_hex fingerprint contract: md5 of the uppercase hex)
    assert got["frame_count"][0] == 3
    assert got["first_frame_hash"][0] == hashlib.md5(
        b"0123456789abcdef".hex().upper().encode()).hexdigest()
    # image + unknown-mime assets: whole 1-D tensor, frame_count 1
    whole = hashlib.md5(
        (b"0123456789abcdef" * 3).hex().upper().encode()).hexdigest()
    for i in (1, 2):
        assert got["frame_count"][i] == 1
        assert got["first_frame_hash"][i] == whole


def test_session_caches_invalidate_on_rewrite(spark, tmp_path):
    """Engine-wide cache-versioning: every SessionCache folds the file
    fingerprint (names+sizes+mtimes) of the table it derives from into
    its key, so rewriting a table under the SAME path re-derives the
    cached artifact instead of serving the stale snapshot — bars
    derivation, the normalized-vector relation and the corpus mean
    (embeddings), the exact-dedup index and the pair set (documents),
    the explicit invalidation hook, and the session release."""
    import os
    import time as _time

    from pandas_ta_spark import caches
    from pandas_ta_spark.caches import invalidate_dir, release_session_caches
    from pandas_ta_spark.ext import dedup as D
    from pandas_ta_spark.ext import similarity as S
    from pandas_ta_spark.sources.bars import bars_from_events_cached
    from pandas_ta_spark.streaming import corpus as C
    from pandas_ta_spark.streaming.ann import (
        _CORPUS_MEAN_CACHE, _corpus_mean_cached)

    sf = str(tmp_path)
    t0 = pd.Timestamp("2024-01-01")

    def write_events(n_types):
        rows = []
        for t in range(n_types):
            for i in range(4):
                rows.append((f"et{t}", t0 + pd.Timedelta(hours=i),
                             float(10 * t + i)))
        pdf = pd.DataFrame(rows, columns=["event_type", "ts", "value"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        (spark.createDataFrame(pdf).coalesce(1)
         .write.mode("overwrite").parquet(f"{sf}/events.parquet"))

    write_events(2)
    assert bars_from_events_cached(spark, sf).count() == 8
    # rewrite IN PLACE: same path, same plan — more symbols
    _time.sleep(0.01)  # ensure a distinct mtime even on coarse clocks
    write_events(3)
    assert bars_from_events_cached(spark, sf).count() == 12

    def write_embeddings(n):
        pdf = pd.DataFrame({
            "vec_id": range(n),
            "embedding": [[float(i + 1), 0.0, 1.0, 0.5] for i in range(n)],
            "label": ["a"] * n})
        (spark.createDataFrame(pdf).coalesce(1)
         .write.mode("overwrite").parquet(f"{sf}/embeddings.parquet"))

    write_embeddings(5)
    assert S._spark_vectors_cached(spark, sf).count() == 5
    assert _corpus_mean_cached(spark, sf)[0][0] == 3.0  # mean of 1..5
    _time.sleep(0.01)
    write_embeddings(7)
    assert S._spark_vectors_cached(spark, sf).count() == 7
    assert _corpus_mean_cached(spark, sf)[0][0] == 4.0  # mean of 1..7
    # superseded fingerprints were evicted: exactly one live entry for
    # this dir, and the explicit hook clears it
    app = spark.sparkContext.applicationId
    assert sum(1 for k in S._VECS_CACHE
               if k[0] == app and k[1] == sf) == 1
    invalidate_dir(spark, sf)
    assert not any(k[0] == app and k[1] == sf for k in S._VECS_CACHE)
    assert os.path.exists(f"{sf}/embeddings.parquet")
    # ... and so are the bars and the corpus mean: one hook, every cache
    assert not any(k[1] == sf for c in caches._LIVE for k in c)

    def write_documents(n):
        pdf = pd.DataFrame({
            "doc_id": range(n),
            "text": [f"doc {i} says word{i} then word{i + 1} and stops"
                     for i in range(n)]})
        (spark.createDataFrame(pdf).coalesce(1)
         .write.mode("overwrite").parquet(f"{sf}/documents.parquet"))

    write_documents(3)
    assert C._corpus_exact_index(spark, sf).count() == 3
    D._pairs_cached(spark, sf)
    _time.sleep(0.01)
    write_documents(7)
    assert C._corpus_exact_index(spark, sf).count() == 7
    # the pair query's refresh replaces the superseded pair set
    D._dedup_minhash(spark, sf)
    assert sum(1 for k in D._PAIRS_CACHE if k[1] == sf) == 1

    # release drains every live cache, the streaming ones included
    live = list(caches._LIVE)
    assert C._EXACT_INDEX_CACHE in live and _CORPUS_MEAN_CACHE in live
    held = sum(len(c) for c in live)
    assert held >= 2  # the exact index and the pair set of this dir
    assert release_session_caches(spark) == held
    assert all(len(c) == 0 for c in live)


def test_bucketed_sink_eliminates_exchange(spark, bars, tmp_path):
    """bucketBy(symbol) managed table: subsequent window queries read
    co-located data with ZERO exchanges — the repeated-scan story."""
    from pandas_ta_spark.registry import make
    from pandas_ta_spark.sources.bars import write_bars_bucketed

    try:
        write_bars_bucketed(bars, "bars_bucketed_test", buckets=4)
        t = spark.table("bars_bucketed_test")
        plan = (make("sma", length=5).apply(t)
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count("Exchange") == 0, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS bars_bucketed_test")


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
    q, o = E.queries(), E.oracle_sql()
    # Pinned exactly: a silently-missing operators module must fail here,
    # not just shrink the driver's gate. Bump deliberately when adding ops.
    assert len(q) == 274
    assert len(o) == 274  # zero rows-only (r13 added above_value_100_raw,
    # cross_value_100_raw, topk_cosine_pq_rerank, topk_pq_rerank_recall;
    # r12 added the 11 param-variant
    # keys: ema_noseed_10, apo_ema_12_26, slope_angle_1, stdev_30_ddof0,
    # variance_30_ddof0, atr_14_percent, bbands_ddof1_5_2.0, log_return_5,
    # percent_return_5, qstick_ema_10, amat_sma_8_21_2 plus 6 standalone
    # multi-bar candle keys (cdl_abandonedbaby, cdl_risefall3methods,
    # cdl_mathold, cdl_concealbabyswall, cdl_hikkake_mod,
    # cdl_3starsinsouth) — VERDICT r11 ask
    # #2: non-default branches were previously un-oracled; r9 added
    # kyle_lambda_20,
    # contamination_prefix, mix_epochs_plan; r8 added asof_hour_lookup,
    # embedding_drift_by_slice, curation_decisions, perplexity_unigram,
    # then attribution_last_touch, user_rfm_segments, events_rate_anomaly,
    # bars_gapfill_1h, mix_temperature_sqrt, perplexity_bigram,
    # ret_autocorr_24, drawdown_episodes, variance_ratio_5_24,
    # lead_lag_corr_1h, unigram_kl_by_source, lexical_diversity,
    # hourly_seasonality, event_transition_matrix,
    # conversion_lag_percentiles, session_stats_30m,
    # embedding_norm_by_label, active_users_daily, then the
    # microstructure pack: vol_parkinson_20, vol_garman_klass_20,
    # vol_rogers_satchell_20, vol_yang_zhang_20, amihud_illiq_20,
    # cs_spread_2_20, hurst_aggvar, ar1_half_life, rolling_sharpe_20,
    # rolling_sortino_20, var_cvar_95_100, roll_spread_20,
    # doc_chunk_128_16, pair_spread_z_24, chunk_dup_rate,
    # rolling_mdd_100)
    assert set(o) <= set(q)
    # Truncation insurance (ADVICE r4): every ring key must still exist —
    # a renamed key would otherwise silently fall out of the rotation —
    # and the emission prefix must be exactly this round's window.
    ring = E._rotation_ring(list(q))
    assert sorted(ring) == sorted(q)
    window = E._window_for_round(E._current_round(), list(q))
    assert list(q)[: len(window)] == window
    assert len(window) == 50 and len(set(window)) == 50
    for k in window:
        assert k in o, k  # every evidenced key is value-checked, not rows-only


def test_rotation_window_schedule(spark):
    """VERDICT r11 ask #1: the driver-evidence window rotates again.

    Pins the three promises the schedule makes: (a) the r12 window is
    DISJOINT from the frozen r10/r11 window, (b) a full cycle of
    ceil(N/50) consecutive rounds covers every suite key at least once,
    (c) the window is deterministic in the round number alone."""
    import math

    import __spark_entry__ as E

    q = E.queries()
    keys = list(q)
    w12 = E._window_for_round(12, keys)
    assert not (set(w12) & set(E._R11_WINDOW))
    cycle = math.ceil(len(keys) / E._WINDOW_SIZE)
    covered = set()
    for r in range(12, 12 + cycle):
        w = E._window_for_round(r, keys)
        assert len(w) == E._WINDOW_SIZE and len(set(w)) == len(w)
        assert E._window_for_round(r, keys) == w  # deterministic
        covered |= set(w)
    assert covered == set(keys)
    # round detection reads the repo's own artifacts (max N + 1)
    assert E._current_round() >= 12


def test_r11_window_is_historical_record(spark):
    """The frozen r10/r11 window stays resolvable (it anchors the ring
    order), even though it no longer gates emission by itself."""
    import __spark_entry__ as E

    q = E.queries()
    assert len(E._R11_WINDOW) == 50
    for k in E._R11_WINDOW:
        assert k in q, k


def test_coverage_md_fresh(spark):
    """VERDICT r11 ask #8: COVERAGE.md is generated, so it can silently
    stale. A fresh render must match the committed file byte-for-byte —
    mutating a SUITE entry without re-running tools/gen_coverage.py
    fails here, naming the first divergent line."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import gen_coverage

    fresh = gen_coverage.render()
    committed = open("/root/repo/COVERAGE.md").read()
    if fresh != committed:
        for i, (a, b) in enumerate(zip(fresh.splitlines(),
                                       committed.splitlines())):
            assert a == b, (
                f"COVERAGE.md stale at line {i + 1}:\n"
                f"  fresh:     {a}\n  committed: {b}\n"
                "run: python tools/gen_coverage.py")
        raise AssertionError(
            "COVERAGE.md stale (length differs): run python tools/gen_coverage.py")


def test_readme_counts_match_registry():
    """Docs can't drift: README's gate-size claim must match the suite."""
    import re

    import __spark_entry__ as E

    _ensure = E._ensure_spark()
    text = open("/root/repo/README.md").read()
    m = re.search(r"\((\d+) queries: (\d+) value-checked, (\d+) rows-only\)", text)
    assert m, "README gate-size sentence missing"
    q, o = E.queries(), E.oracle_sql()
    assert int(m.group(1)) == len(q)
    assert int(m.group(2)) == len(o)
    assert int(m.group(3)) == len(q) - len(o)
    # Prose can't drift either (VERDICT r9 ask #2): while the registry
    # has zero oracle-less keys, no README sentence may claim that some
    # class of ops "use(s) rows-only checks".
    if len(q) - len(o) == 0:
        assert not re.search(r"use rows-only checks", text), (
            "README claims rows-only checks exist but the gate is "
            "fully value-checked")


def test_ta_accessor(spark, bars, pdf_bars):
    """The df.ta-style accessor: properties + dispatch + strategy parity
    (pandas_ta/core.py#AnalysisIndicators surface)."""
    from pandas_ta_spark import TA, __version__
    from tests.conftest import assert_close, one_symbol

    t = TA(bars)
    assert t.version == __version__
    assert t.exchange == "NYSE"
    assert "momentum" in t.categories and "overlap" in t.categories
    assert t.cores > 0
    t.cores = 8
    assert t.cores == 8
    assert t.last_run is None
    assert t.datetime_ordered is True
    assert 0.0 < t.time_range < 10.0
    assert "rsi" in t.indicators()

    out = t(kind="sma", length=5)
    assert "SMA_5" in out.columns
    assert t.last_run is not None

    # adjusted-close substitution feeds every later call
    t.adjusted = "open"
    got = one_symbol(t(kind="sma", length=5).toPandas())
    ref = one_symbol(pdf_bars)["open"].rolling(5).mean()
    assert_close(got["SMA_5"], ref, name="adjusted-sma")
    t.adjusted = None

    import pytest as _pytest
    with _pytest.raises(ValueError):
        t.adjusted = "nope"
    with _pytest.raises(ValueError):
        t.exchange = "XXX"

    # strategy batches into one plan and stamps last_run
    from pandas_ta_spark.operators.overlap import ema, sma
    out2 = t.strategy([sma(10), ema(10)])
    assert {"SMA_10", "EMA_10"} <= set(out2.columns)

    # to_utc shifts NYSE (-4) wall time forward 4 hours
    import pandas as pd
    a = one_symbol(pdf_bars)["ts"].iloc[0]
    b = one_symbol(t.to_utc().toPandas())["ts"].iloc[0]
    assert (pd.Timestamp(b) - pd.Timestamp(a)) == pd.Timedelta(hours=4)


def test_asof_join_property(spark):
    """Property-based check of the union-and-carry as-of join: for random
    event layouts (gaps, bursts, multiple symbols), every event must get
    the close of the LATEST bar strictly before its own hour — verified
    against a brute-force pandas scan."""
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.lists(
        st.tuples(st.sampled_from(["A", "B"]), st.integers(0, 72 * 3600)),
        min_size=1, max_size=60, unique=True,
    ))
    def check(evts):
        pdf = pd.DataFrame({
            "event_id": range(len(evts)),
            "ts": [pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s)
                   for _, s in evts],
            "user_id": 0,
            "event_type": [sym for sym, _ in evts],
            "value": [float(i * 7 % 13) + 0.5 for i in range(len(evts))],
            "props": "{}",
        })
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        with tempfile.TemporaryDirectory() as sf:
            pdf.to_parquet(f"{sf}/events.parquet")
            from pandas_ta_spark.ext.relational import _asof_join

            got = (_asof_join(spark, sf).toPandas()
                   .sort_values("event_id").reset_index(drop=True))
        # brute-force reference: hourly close per (symbol, hour) = value of
        # the max-ts event; latest bar strictly before the event's hour
        ref = pdf.copy()
        ref["hour"] = ref["ts"].dt.floor("h")
        bars = (ref.sort_values("ts").groupby(["event_type", "hour"])
                .agg(close=("value", "last")).reset_index())
        for _, r in ref.iterrows():
            prev = bars[(bars["event_type"] == r["event_type"])
                        & (bars["hour"] < r["hour"])]
            row = got[got["event_id"] == r["event_id"]].iloc[0]
            if len(prev):
                want = prev.sort_values("hour").iloc[-1]
                assert row["bar_ts"] == want["hour"], r["event_id"]
                assert row["bar_close"] == want["close"], r["event_id"]
            else:
                assert pd.isna(row["bar_ts"]), r["event_id"]

    check()


def test_split_assign_deterministic_fractions(spark):
    """Deterministic hash split: rerun-identical assignment, every doc in
    exactly one split, fractions near the 90/5/5 configuration."""
    from pandas_ta_spark.ext import SUITE

    sf = "/root/testdata/sf0.01"
    a = SUITE["split_assign"].query(spark, sf).toPandas()
    b = SUITE["split_assign"].query(spark, sf).toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)  # rerun-stable
    frac = a["split"].value_counts(normalize=True)
    assert 0.80 <= frac.get("train", 0) <= 0.97
    assert 0.005 <= frac.get("val", 0) <= 0.12
    assert 0.005 <= frac.get("test", 0) <= 0.12


def test_semdedup_keep_invariants(spark):
    """kept XOR displaced: rep_id present iff kept == 0, and the
    representative always has the smaller vec_id (min-id rule)."""
    from pandas_ta_spark.ext import SUITE

    out = SUITE["semdedup_keep"].query(spark, "/root/testdata/sf0.01").toPandas()
    assert len(out) > 0
    dropped = out[out["kept"] == 0]
    kept = out[out["kept"] == 1]
    assert kept["rep_id"].isna().all()
    if len(dropped):
        assert dropped["rep_id"].notna().all()
        assert (dropped["rep_id"] < dropped["vec_id"]).all()


def test_increasing_strict_semantics(spark):
    """strict=True flags only runs where EVERY consecutive step rises
    across the length lookback (SURVEY §2.5 'monotone each step')."""
    import pandas as pd

    from pandas_ta_spark.operators.trend import increasing

    closes = [1.0, 2.0, 3.0, 4.0, 3.0, 4.0, 5.0, 6.0, 7.0]
    pdf = pd.DataFrame({
        "symbol": "A",
        "ts": pd.date_range("2024-01-01", periods=len(closes), freq="h"),
        "open": closes, "high": closes, "low": closes, "close": closes,
        "volume": 1.0,
    })
    df = spark.createDataFrame(pdf)
    out = (increasing(3, strict=True).apply(df).toPandas()
           .sort_values("ts").reset_index(drop=True))
    # 3 monotone values = 2 consecutive rising steps (the reference's
    # length-1 comparisons): rows 2-3 (1->2->3, 2->3->4) rise, row 4
    # breaks on the 4->3 drop, row 5 still includes it, rows 6..8 rise
    assert out["SINC_3"].tolist() == [0, 0, 1, 1, 0, 0, 1, 1, 1]


def test_bars_format_roundtrip(spark, pdf_bars, tmp_path):
    """CSV and JSON connectors land on the canonical bars schema and
    agree with the in-memory frame; indicators run unchanged on top."""
    from pandas_ta_spark.registry import make
    from pandas_ta_spark.sources.formats import bars_from_csv, bars_from_json

    csv_p = str(tmp_path / "bars_csv")
    json_p = str(tmp_path / "bars_json")
    src = pdf_bars.copy()
    (tmp_path / "bars_csv").mkdir()
    (tmp_path / "bars_json").mkdir()
    src.to_csv(f"{csv_p}/part.csv", index=False)
    src.to_json(f"{json_p}/part.json", orient="records", lines=True,
                date_format="iso")
    for df in (bars_from_csv(spark, csv_p), bars_from_json(spark, json_p)):
        assert [f.name for f in df.schema.fields] == [
            "symbol", "ts", "open", "high", "low", "close", "volume"]
        assert df.count() == len(src)
        got = (df.orderBy("symbol", "ts").toPandas()["close"]
               .round(6).tolist())
        want = (src.sort_values(["symbol", "ts"])["close"]
                .round(6).tolist())
        assert got == want
        out = make("sma", length=5).apply(df)
        assert "SMA_5" in out.columns and out.count() == len(src)

    # header-name mapping: a ts-first export order must land correctly
    # (a positional schema would scramble symbol/ts silently)
    reord = str(tmp_path / "bars_csv_reordered")
    (tmp_path / "bars_csv_reordered").mkdir()
    src[["ts", "symbol", "volume", "open", "high", "low", "close"]].to_csv(
        f"{reord}/part.csv", index=False)
    df = bars_from_csv(spark, reord)
    got = (df.orderBy("symbol", "ts").toPandas()["close"].round(6).tolist())
    assert got == want
    assert df.toPandas()["ts"].notna().all()

    with __import__("pytest").raises(ValueError, match="missing columns"):
        from pandas_ta_spark.sources.formats import _normalize
        _normalize(spark.createDataFrame([(1,)], "x INT"), None)


def test_bars_connector_strict_full_scan(spark, pdf_bars, tmp_path):
    """ADVICE r8: the connector's NULL-OHLCV fail-fast samples only 1000
    arbitrary rows, so a NULL bar beyond the sample passes silently;
    strict=True must scan the whole source and catch it."""
    import pytest as _pytest

    from pandas_ta_spark.sources.formats import bars_from_csv

    # one file, >1000 rows, the ONLY null close on the very last row —
    # a single-file CSV scans in order, so the 1000-row sample misses it
    src = pd.concat([pdf_bars] * 3, ignore_index=True)
    src = src.sort_values(["symbol", "ts"], kind="stable").reset_index(drop=True)
    assert len(src) > 1000
    src.loc[len(src) - 1, "close"] = None
    d = tmp_path / "bars_csv_tail_null"
    d.mkdir()
    src.to_csv(d / "part.csv", index=False)

    lax = bars_from_csv(spark, str(d))           # sample misses the tail
    assert lax.count() == len(src)
    with _pytest.raises(ValueError, match="NULL/unparseable OHLCV"):
        bars_from_csv(spark, str(d), strict=True)


def test_ticker_vendor_dir_adapter(spark, pdf_bars, tmp_path):
    """Offline ticker(): symbol -> vendor-file resolution (yfinance-
    style CSV with Date header and no symbol column), canonical schema,
    [start, end) slicing, and OHLC resampling to a coarser interval."""
    import pytest as _pytest

    from pandas_ta_spark.sources.formats import _interval_minutes, ticker

    vend = tmp_path / "vendor"
    vend.mkdir()
    src = pdf_bars[pdf_bars["symbol"] == "A"].drop(columns=["symbol"])
    src = src.rename(columns={"ts": "Date", "open": "Open", "high": "High",
                              "low": "Low", "close": "Close",
                              "volume": "Volume"})
    src["Adj Close"] = src["Close"]  # vendor extras must prune away
    src.to_csv(vend / "SPY.csv", index=False)

    df = ticker(spark, "spy", str(vend))  # case-insensitive stem match
    assert [f.name for f in df.schema.fields] == [
        "symbol", "ts", "open", "high", "low", "close", "volume"]
    assert df.count() == len(src)
    assert df.select("symbol").distinct().collect()[0][0] == "SPY".lower() or \
        df.select("symbol").distinct().collect()[0][0] == "spy"

    sliced = ticker(spark, "spy", str(vend),
                    start="2024-01-02", end="2024-01-03")
    assert sliced.count() == 24  # hourly fixture: one full day

    daily = (ticker(spark, "spy", str(vend), interval="1d")
             .orderBy("ts").toPandas())
    pd_daily = (pdf_bars[pdf_bars["symbol"] == "A"].set_index("ts")
                .resample("1D").agg({"open": "first", "high": "max",
                                     "low": "min", "close": "last",
                                     "volume": "sum"}).dropna())
    assert len(daily) == len(pd_daily)
    assert daily["close"].round(9).tolist() == \
        pd_daily["close"].round(9).tolist()
    assert daily["open"].round(9).tolist() == \
        pd_daily["open"].round(9).tolist()
    assert daily["volume"].round(9).tolist() == \
        pd_daily["volume"].round(9).tolist()

    assert _interval_minutes("15m") == 15
    assert _interval_minutes("4h") == 240
    assert _interval_minutes("1w") == 10080
    with _pytest.raises(ValueError, match="unsupported interval"):
        _interval_minutes("tick")
    with _pytest.raises(ValueError, match="available"):
        ticker(spark, "QQQ", str(vend))
    with _pytest.raises(ValueError, match="does not exist"):
        ticker(spark, "spy", str(tmp_path / "nope"))


def test_semdedup_cc_transitive_clusters_planted(spark, tmp_path):
    """The driver-gate corpus has NO cosine-0.99 pairs (max in-bucket
    cosine 0.49), so the semdedup_cc_clusters gate row is vacuously
    0-row; this test plants a chain of near-identical vectors
    (A~B, B~C with cos(A,C) also high) in a synthetic embeddings table
    and asserts (a) Spark CC output == the DuckDB recursive-CTE oracle
    exactly and (b) the chain lands in ONE transitive cluster — the
    property the pairwise keep-list cannot express."""
    import duckdb
    import numpy as np
    import pandas as pd

    from pandas_ta_spark.ext.similarity import (
        DIM, _semdedup_cc, _semdedup_cc_oracle,
    )

    rng = np.random.default_rng(11)
    base = rng.normal(0, 1, (40, DIM))
    chain_root = rng.normal(0, 1, DIM)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v))
    # planted chain: ids 100..102, each a tiny perturbation of the last
    cur = chain_root
    for j in range(3):
        rows.append((100 + j, cur.copy()))
        cur = cur + rng.normal(0, 0.001, DIM)
    pdf = pd.DataFrame({
        "vec_id": [r[0] for r in rows],
        "embedding": [[float(x) for x in r[1]] for r in rows],
        "label": 0,
    })
    d = tmp_path / "planted"
    d.mkdir()
    pdf.to_parquet(d / "embeddings.parquet")

    got = (_semdedup_cc(spark, str(d)).toPandas()
           .sort_values("vec_id").reset_index(drop=True))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'")
    want = (con.execute(_semdedup_cc_oracle()).df()
            .sort_values("vec_id").reset_index(drop=True))
    assert got["vec_id"].tolist() == want["vec_id"].tolist()
    assert got["cluster_id"].tolist() == want["cluster_id"].tolist()
    assert got["n_members"].tolist() == want["n_members"].tolist()
    chain = got[got["vec_id"] >= 100]
    assert len(chain) == 3
    assert chain["cluster_id"].nunique() == 1  # transitive: one cluster
    assert (chain["n_members"] == 3).all()


def test_span_dedup_flags_shared_paragraph(spark, tmp_path):
    """Two long documents sharing one boilerplate paragraph are NOT
    doc-level near-dups, but span dedup must flag the shared windows."""
    import numpy as np

    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(200)]
    para = " ".join(rng.choice(vocab, 40))  # 40-token shared boilerplate
    uniq = [" ".join(rng.choice(vocab, 120)) for _ in range(3)]
    docs = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [f"{uniq[0]} {para}", f"{para} {uniq[1]}", uniq[2]],
        "lang": ["en"] * 3,
        "source": ["s"] * 3,
        "n_chars": [1] * 3,
    })
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    from pandas_ta_spark.ext.dedup import SPAN_W, SUITE

    out = (SUITE["dedup_spans"].query(spark, sf).toPandas()
           .set_index("doc_id"))
    # the shared 40-token paragraph contributes 40 - SPAN_W + 1 dup
    # windows to each sharer (unique filler makes other windows unique
    # with overwhelming probability)
    assert out.loc[0, "n_dup_spans"] == 40 - SPAN_W + 1
    assert out.loc[1, "n_dup_spans"] == 40 - SPAN_W + 1
    assert out.loc[2, "n_dup_spans"] == 0
    assert 0 < out.loc[0, "dup_span_frac"] < 1


def test_pii_scrub_counts_and_redaction(spark, tmp_path):
    import hashlib

    docs = pd.DataFrame({
        "doc_id": [0, 1],
        "text": ["please hash the table then merge it and hash again",
                 "nothing to redact in this row"],
        "lang": ["en"] * 2,
        "source": ["s"] * 2,
        "n_chars": [1] * 2,
    })
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    from pandas_ta_spark.ext.text import REDACTED, SUITE

    out = SUITE["pii_scrub"].query(spark, sf).toPandas().set_index("doc_id")
    assert out.loc[0, "n_denylist"] == 3  # hash x2 + merge
    assert out.loc[1, "n_denylist"] == 0
    assert out.loc[0, "n_email"] == 0 and out.loc[0, "n_ipv4"] == 0
    expected = docs.loc[0, "text"].replace("hash", REDACTED).replace(
        "merge", REDACTED)
    assert out.loc[0, "redacted_md5"] == hashlib.md5(
        expected.encode()).hexdigest()
    assert out.loc[0, "n_chars_redacted"] == len(expected)
    # untouched row hashes to its raw text
    assert out.loc[1, "redacted_md5"] == hashlib.md5(
        docs.loc[1, "text"].encode()).hexdigest()


def test_tfidf_top_terms_finds_distinctive_term(spark, tmp_path):
    shared = "common words appear everywhere in all sources equally often"
    docs = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [f"{shared} zebra zebra zebra", f"{shared}",
                 f"{shared} quokka quokka", f"{shared}"],
        "lang": ["en"] * 4,
        "source": ["sa", "sa", "sb", "sb"],
        "n_chars": [1] * 4,
    })
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    from pandas_ta_spark.ext.text import TOP_TERMS_K, SUITE

    out = SUITE["tfidf_top_terms"].query(spark, sf).toPandas()
    top = out[out["rank"] == 1].set_index("source")
    # the source-exclusive term (df=1) with the highest tf wins rank 1
    assert top.loc["sa", "term"] == "zebra"
    assert top.loc["sb", "term"] == "quokka"
    assert out.groupby("source")["rank"].max().le(TOP_TERMS_K).all()


def test_ngram_novelty_separates_unique_from_shared(spark, tmp_path):
    docs = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["alpha beta gamma delta",      # shares all bigrams with doc 1
                 "alpha beta gamma delta",
                 "unique bigrams only here"],
        "lang": ["en"] * 3,
        "source": ["s"] * 3,
        "n_chars": [1] * 3,
    })
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    from pandas_ta_spark.ext.text import SUITE

    out = SUITE["ngram_novelty"].query(spark, sf).toPandas().set_index("doc_id")
    assert out.loc[0, "novel_frac"] == 0.0  # every bigram also in doc 1
    assert out.loc[2, "novel_frac"] == 1.0  # no bigram shared
    assert out.loc[2, "min_bigram_df"] == 1
    assert out.loc[0, "max_bigram_df"] == 2


def test_contamination_minhash_flags_cross_split_neardup(spark, tmp_path):
    from pandas_ta_spark.ext.dedup import FUZZY_EVAL_MOD, FUZZY_EVAL_REM, SUITE

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today while the sun shines bright over the green hills")
    eval_id = FUZZY_EVAL_REM  # lands in the held-out slice
    assert eval_id % FUZZY_EVAL_MOD == FUZZY_EVAL_REM
    docs = pd.DataFrame({
        "doc_id": [0, 1, eval_id],
        "text": [base.replace("today", "tomorrow"),  # train near-dup of eval
                 "completely different words about spark window functions",
                 base],
        "lang": ["en"] * 3,
        "source": ["s"] * 3,
        "n_chars": [1] * 3,
    })
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    out = SUITE["contamination_minhash"].query(spark, sf).toPandas()
    assert set(out["train_id"]) == {0}  # only the near-dup train doc
    row = out.set_index("train_id").loc[0]
    assert row["n_eval_matches"] == 1
    assert row["max_jaccard"] > 0.5


def test_contamination_prefix_planted(spark, tmp_path):
    """Prefix-fingerprint decontamination: a train doc sharing the first
    PREFIX_K tokens with an eval doc flags even when its TAIL diverges
    completely (the truncated/extended-copy case a whole-text hash
    misses); a doc differing inside the prefix does not flag."""
    from pandas_ta_spark.ext.dedup import (
        FUZZY_EVAL_MOD,
        FUZZY_EVAL_REM,
        PREFIX_K,
        SUITE,
    )

    prefix = " ".join(f"w{i}" for i in range(PREFIX_K))
    eval_id = FUZZY_EVAL_REM
    docs = pd.DataFrame({
        "doc_id": [0, 1, 2, eval_id],
        "text": [prefix + " completely different tail content here",
                 prefix + " another tail that also diverges a lot",
                 "w0 w1 CHANGED " + prefix + " same tail as eval",  # shifted
                 prefix + " the eval continuation text"],
        "lang": ["en"] * 4,
        "source": ["s"] * 4,
        "n_chars": [1] * 4,
    })
    assert all(d % FUZZY_EVAL_MOD != FUZZY_EVAL_REM for d in (0, 1, 2))
    docs.to_parquet(f"{tmp_path}/documents.parquet")
    out = SUITE["contamination_prefix"].query(spark, str(tmp_path)).toPandas()
    assert set(out["doc_id"]) == {0, 1}
    assert (out["n_eval_docs"] == 1).all()


def test_mix_epochs_plan_matches_python(spark):
    """Exact-arithmetic recompute of the epoch plan on sf0.001, plus the
    invariants: targets partition ~the whole budget, epochs = target /
    n_tokens, and the repeat flag trips exactly above 4."""
    import math
    import re as _re

    from pandas_ta_spark.ext.sampling import EPOCH_BUDGET_X, SUITE

    sf = "/root/testdata/sf0.001"
    out = (SUITE["mix_epochs_plan"].query(spark, sf).toPandas()
           .sort_values("source").reset_index(drop=True))
    docs = (spark.read.parquet(f"{sf}/documents.parquet")
            .select("source", "text").toPandas())
    ntok = docs["text"].map(
        lambda t: len(_re.split(r"\s+", t.strip().lower())))
    per = (pd.DataFrame({"source": docs["source"], "n": ntok})
           .groupby("source")["n"].sum().sort_index())
    s = {src: int(math.floor(math.sqrt(n) * 1e6 + 0.5))
         for src, n in per.items()}
    tot_tok, tot_s = int(per.sum()), sum(s.values())
    for _, row in out.iterrows():
        src = row["source"]
        assert row["n_tokens"] == per[src]
        target = int(math.floor(
            s[src] / tot_s * float(tot_tok * EPOCH_BUDGET_X) + 0.5))
        assert row["target_tokens"] == target
        ep = target / per[src]
        assert abs(row["epochs"] - math.floor(ep * 1e6 + 0.5) / 1e6) < 1e-12
        assert row["repeat_gt4"] == int(ep > 4.0)
    # the temperature targets still spend ~the whole budget (rounding
    # drift only)
    assert abs(out["target_tokens"].sum()
               - tot_tok * EPOCH_BUDGET_X) <= len(out)


def test_quantize_sq_code_range_and_extremes(spark, tmp_path):
    rows = [
        {"vec_id": 0, "embedding": [0.0] * 64, "label": 0},   # per-dim min
        {"vec_id": 1, "embedding": [1.0] * 64, "label": 0},   # per-dim max
        {"vec_id": 2, "embedding": [0.5] * 64, "label": 0},
    ]
    pd.DataFrame(rows).to_parquet(f"{tmp_path}/embeddings.parquet")
    from pandas_ta_spark.ext.similarity import SUITE

    out = (SUITE["embedding_quantize_sq"].query(spark, str(tmp_path))
           .toPandas().set_index("vec_id"))
    assert (out["n_dims"] == 64).all()
    assert out.loc[0, "code_min"] == 0 and out.loc[0, "code_max"] == 0
    assert out.loc[1, "code_min"] == 255 and out.loc[1, "code_max"] == 255
    assert out.loc[2, "code_min"] == 127 and out.loc[2, "code_max"] == 127
    assert out.loc[1, "code_sum"] == 255 * 64
    # code strings are distinct across distinct vectors
    assert out["codes_md5"].nunique() == 3


def test_ivf_cluster_profile_invariants(spark, tmp_path):
    rng = np.random.default_rng(11)
    rows = [{"vec_id": i,
             "embedding": rng.normal(0, 1, 64).astype(np.float32).tolist(),
             "label": i % 3} for i in range(40)]
    pd.DataFrame(rows).to_parquet(f"{tmp_path}/embeddings.parquet")
    from pandas_ta_spark.ext.similarity import SUITE

    out = SUITE["ivf_cluster_profile"].query(spark, str(tmp_path)).toPandas()
    # every vector lands in exactly one list; shares partition the corpus
    assert out["n_vectors"].sum() == 40
    assert abs(out["corpus_frac"].sum() - 1.0) < 1e-12
    assert (out["top_label_cnt"] <= out["n_vectors"]).all()
    assert (out["n_labels"] >= 1).all() and (out["n_labels"] <= 3).all()
    assert out["top_label"].isin([0, 1, 2]).all()


def test_source_token_profile_exact_percentiles(spark, tmp_path):
    # source "sa": token counts 1..10 -> p10 = value at rank
    # floor(9*0.1)+1 = 1 (count 1), p50 at rank 5 (count 5), p90 at
    # rank 9 (count 9); mean = 55/10
    docs = pd.DataFrame({
        "doc_id": range(10),
        "text": [" ".join(["w"] * n) for n in range(1, 11)],
        "lang": ["en"] * 10,
        "source": ["sa"] * 10,
        "n_chars": [1] * 10,
    })
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    from pandas_ta_spark.ext.text import SUITE

    out = (SUITE["source_token_profile"].query(spark, sf)
           .toPandas().set_index("source"))
    row = out.loc["sa"]
    assert row["n_docs"] == 10
    assert row["mean_tokens"] == 5.5
    assert row["p10_tokens"] == 1
    assert row["p50_tokens"] == 5
    assert row["p90_tokens"] == 9


def test_ngram_novelty_property_vs_bruteforce(spark):
    """Property check: for random small corpora, novelty stats must match
    a brute-force pandas bigram scan (guards the hashed-key and
    pre-aggregated reformulation against semantic drift)."""
    import tempfile
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    words = ["a", "b", "c", "d"]

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.lists(st.lists(st.sampled_from(words), min_size=2, max_size=8),
                    min_size=2, max_size=8))
    def check(docs_words):
        pdf = pd.DataFrame({
            "doc_id": range(len(docs_words)),
            "text": [" ".join(ws) for ws in docs_words],
            "lang": ["en"] * len(docs_words),
            "source": ["s"] * len(docs_words),
            "n_chars": [1] * len(docs_words),
        })
        with tempfile.TemporaryDirectory() as sf:
            pdf.to_parquet(f"{sf}/documents.parquet")
            from pandas_ta_spark.ext.text import SUITE

            got = (SUITE["ngram_novelty"].query(spark, sf).toPandas()
                   .set_index("doc_id").sort_index())
        # brute force: bigram doc frequency over all docs
        per_doc = [[" ".join(p) for p in zip(ws, ws[1:])] for ws in docs_words]
        dfreq = Counter()
        for bgs in per_doc:
            for b in set(bgs):
                dfreq[b] += 1
        for i, bgs in enumerate(per_doc):
            row = got.loc[i]
            assert row["n_bigrams"] == len(bgs)
            n_novel = sum(1 for b in bgs if dfreq[b] == 1)
            assert row["n_novel"] == n_novel
            assert row["min_bigram_df"] == min(dfreq[b] for b in bgs)
            assert row["max_bigram_df"] == max(dfreq[b] for b in bgs)

    check()


def test_pii_scrub_property_vs_python_re(spark):
    """Property check: Spark's regex counts and redacted hashes must match
    Python re on random word-salad documents (same denylist pattern)."""
    import hashlib
    import re
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pandas_ta_spark.ext.text import DENY_PATTERN, REDACTED

    vocab = ["hash", "merge", "scan", "rehash", "hashes", "table", "x"]

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.lists(st.lists(st.sampled_from(vocab), min_size=1, max_size=12),
                    min_size=1, max_size=6))
    def check(docs_words):
        pdf = pd.DataFrame({
            "doc_id": range(len(docs_words)),
            "text": [" ".join(ws) for ws in docs_words],
            "lang": ["en"] * len(docs_words),
            "source": ["s"] * len(docs_words),
            "n_chars": [1] * len(docs_words),
        })
        with tempfile.TemporaryDirectory() as sf:
            pdf.to_parquet(f"{sf}/documents.parquet")
            from pandas_ta_spark.ext.text import SUITE

            got = (SUITE["pii_scrub"].query(spark, sf).toPandas()
                   .set_index("doc_id").sort_index())
        for i, ws in enumerate(docs_words):
            text = " ".join(ws)
            row = got.loc[i]
            # \b semantics: "rehash"/"hashes" must NOT count as "hash"
            assert row["n_denylist"] == len(re.findall(DENY_PATTERN, text))
            red = re.sub(DENY_PATTERN, REDACTED, text)
            assert row["redacted_md5"] == hashlib.md5(red.encode()).hexdigest()
            assert row["n_chars_redacted"] == len(red)

    check()


def test_pq_topk_separates_clusters(spark, tmp_path):
    """PQ-ADC must rank same-cluster vectors above the orthogonal
    cluster: corpus = two orthogonal directions with small deterministic
    jitter; query 0 points at cluster A."""
    import numpy as np

    from pandas_ta_spark.ext.similarity import (
        DIM, K_PQ, N_QUERIES, TOP_K, SUITE,
    )

    def vec(direction, i):
        v = np.zeros(DIM)
        v[direction] = 1.0
        v[32 + (i % 8)] = 0.01 * (1 + i % 3)  # break exact ties
        return list(v)

    rows = []
    rows.append({"vec_id": 0, "embedding": vec(0, 0), "label": 0})  # query: A
    for q in range(1, N_QUERIES):
        rows.append({"vec_id": q, "embedding": vec(1, q), "label": 0})
    # seeds (trainers) split across both clusters
    for c in range(K_PQ):
        rows.append({"vec_id": N_QUERIES + c,
                     "embedding": vec(0 if c < 4 else 1, c), "label": 0})
    # corpus: 6 in A, 6 in B
    for i in range(6):
        rows.append({"vec_id": 18 + i, "embedding": vec(0, i), "label": 0})
        rows.append({"vec_id": 24 + i, "embedding": vec(1, i), "label": 0})
    pd.DataFrame(rows).to_parquet(f"{tmp_path}/embeddings.parquet")

    out = SUITE["topk_cosine_pq"].query(spark, str(tmp_path)).toPandas()
    top = out[out["query_id"] == 0].sort_values("rank")
    assert len(top) == TOP_K
    a_cluster = {10, 11, 12, 13} | set(range(18, 24))
    assert set(top["match_id"]).issubset(a_cluster), top


def test_rolling_beta_recovers_known_beta(spark, tmp_path):
    """Two aligned hourly series: A's log return is exactly 2x the
    market's (B is constant), so beta_A -> 2 and beta_B -> 0 once the
    24-bar window fills; corr_B is NULL (zero own-variance)."""
    import numpy as np

    from pandas_ta_spark.ext.relational import BETA_N, SUITE

    n = BETA_N + 8
    u = 0.01 * (np.arange(1, n + 1) * 7 % 5 - 2.0)   # varied increments
    price_a = np.exp(np.cumsum(2 * u))
    ts = pd.date_range("2024-01-01", periods=n, freq="h")
    ev = pd.DataFrame({
        "event_id": range(2 * n),
        "event_type": ["A"] * n + ["B"] * n,
        "ts": list(ts) * 2,
        "value": list(price_a) + [1.0] * n,
        "user_id": [0] * (2 * n),
        "props": ["{}"] * (2 * n),
    })
    ev.to_parquet(f"{tmp_path}/events.parquet")

    out = (SUITE["rolling_beta_24"].query(spark, str(tmp_path)).toPandas()
           .sort_values(["symbol", "ts"]))
    a = out[out["symbol"] == "A"]
    b = out[out["symbol"] == "B"]
    # warmup: first BETA_N rows NULL (lag kills row 0, window needs 24)
    assert a["beta"].notna().sum() == n - BETA_N
    full_a = a[a["n_obs"] >= BETA_N]
    full_b = b[b["n_obs"] >= BETA_N]
    assert np.allclose(full_a["beta"], 2.0, atol=1e-3)
    assert np.allclose(full_a["corr"], 1.0, atol=1e-3)
    assert np.allclose(full_b["beta"], 0.0, atol=1e-3)
    assert full_b["corr"].isna().all()  # zero own-variance


def test_chunked_strategy_exact_parity(spark, bars):
    """apply_strategy_chunked must reproduce the unchunked results
    bit-for-bit for bounded-lookback indicators: each retained row's
    frames see the same rows via the carry replicas."""
    from pandas_ta_spark.operators import (
        momentum, overlap, statistics, trend, volatility)
    from pandas_ta_spark.plans.strategy import apply_strategy, apply_strategy_chunked
    from pyspark.sql import functions as F

    # aroon: carry_rows=14 KERNEL whose SQL twin renders a positional
    # argmax (row_number) — oracle-only shape must not veto chunking
    # of a finite-carry kernel (r11 fix)
    inds = [overlap.sma(20), overlap.wma(10), statistics.stdev(30),
            volatility.donchian(20), momentum.roc(10), momentum.mom(10),
            trend.aroon(14)]
    # NULL keys keep their rows and values as on the plain path: one
    # NULL-ts row per symbol (NULLs sort first in the windows and in the
    # kernel runner) and one NULL-symbol row
    at = bars.filter(F.col("ts") == F.lit(pd.Timestamp("2024-01-05 07:00")))
    keyed = (bars.unionByName(at.withColumn("ts", F.lit(None).cast("timestamp")))
             .unionByName(at.filter(F.col("symbol") == "A")
                          .withColumn("symbol", F.lit(None).cast("string"))))
    plain = (apply_strategy(keyed, inds).toPandas()
             .sort_values(["symbol", "ts"]).reset_index(drop=True))
    chunked = (apply_strategy_chunked(keyed, inds, lookback=30, chunk="3 days")
               .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True))
    assert list(plain.columns) == list(chunked.columns)
    assert len(plain) == len(chunked) == bars.count() + 3
    for c in plain.columns:
        a, b = plain[c], chunked[c]
        assert ((a == b) | (a.isna() & b.isna())).all(), c
    # guard against vacuous parity: the fixture must actually span
    # multiple chunks (computed from the data, not assumed)
    n_chunks = (bars.select(
        "symbol",
        F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                / F.lit(3 * 86_400_000_000)).alias("c"))
        .distinct().groupBy("symbol").count().agg(F.min("count")).first()[0])
    assert n_chunks >= 4, n_chunks


def test_chunked_strategy_survives_empty_chunks(spark, bars):
    """A symbol dark for entire chunks must still hand its lookback
    history across the gap (carry targets the next NON-EMPTY chunk)."""
    from pyspark.sql import functions as F

    from pandas_ta_spark.operators import overlap, statistics
    from pandas_ta_spark.plans.strategy import apply_strategy, apply_strategy_chunked

    # knock out one FULL epoch-aligned 3-day chunk: boundaries fall on
    # epoch days divisible by 3 (2023-12-31, 2024-01-03, 2024-01-06, ...),
    # so removing [01-03, 01-06) leaves the surrounding chunks intact and
    # the removed chunk exactly empty. (A non-aligned gap instead leaves
    # an UNDERSIZED chunk, which the carry spans too: the property test
    # draws those.)
    gap_lo = pd.Timestamp("2024-01-03")
    gap_hi = pd.Timestamp("2024-01-06")
    holed = bars.filter(~((F.col("ts") >= F.lit(gap_lo)) & (F.col("ts") < F.lit(gap_hi))))
    inds = [overlap.sma(20), statistics.stdev(30)]
    plain = (apply_strategy(holed, inds).toPandas()
             .sort_values(["symbol", "ts"]).reset_index(drop=True))
    chunked = (apply_strategy_chunked(holed, inds, lookback=30, chunk="3 days")
               .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True))
    assert len(plain) == len(chunked) and len(plain) > 0
    for c in plain.columns:
        a, b = plain[c], chunked[c]
        if a.dtype == object or c in ("symbol", "ts"):
            assert (a == b).all(), c
        else:
            assert ((a == b) | (a.isna() & b.isna())).all(), c


def test_chunked_strategy_rejects_kernel_ops(bars):
    import pytest as _pytest

    from pandas_ta_spark.operators import momentum
    from pandas_ta_spark.plans.strategy import apply_strategy_chunked

    with _pytest.raises(ValueError, match="bounded-lookback"):
        apply_strategy_chunked(bars, [momentum.rsi(14)], lookback=30)


def test_chunked_strategy_rejects_deep_and_unbounded_expressions(bars):
    """ADVICE r6: the bounded-lookback contract must hold for the
    expression path too — a 50-row SMA under lookback=30 used to be
    accepted and silently diverge; cumulative/position-dependent ops
    (vwap's anchored cumsum, decay's row_number) can never chunk."""
    import pytest as _pytest

    from pandas_ta_spark.operators import overlap, trend
    from pandas_ta_spark.plans.strategy import (
        apply_strategy_chunked, expression_lookback,
    )

    # expression-path depth rejection (wma(50): a 50-lag chain; sma
    # became an Arrow kernel in r14's ROLL absorption, so the deep-sma
    # refusal now comes from the kernel carry_rows check below)
    with _pytest.raises(ValueError, match="more history than"):
        apply_strategy_chunked(bars, [overlap.wma(50)], lookback=30)
    with _pytest.raises(ValueError, match="bounded-lookback"):
        apply_strategy_chunked(bars, [overlap.sma(50)], lookback=30)
    with _pytest.raises(ValueError, match="position-dependent|unbounded"):
        apply_strategy_chunked(bars, [overlap.vwap()], lookback=30)
    with _pytest.raises(ValueError, match="position-dependent|unbounded"):
        apply_strategy_chunked(bars, [trend.decay(5)], lookback=30)
    # introspected depths: wma(20) lags 19 back (mask + lag chain);
    # kernel-converted sma declares its history via carry_rows instead
    assert expression_lookback(overlap.wma(20)) == 19
    assert overlap.sma(20).kernel.carry_rows == 19
    assert overlap.sma(50).kernel.carry_rows == 49
    assert expression_lookback(trend.decay(5)) is None
    # kernel-only execution: the SQL twin is oracle-only, so aroon's
    # positional-argmax oracle must not make it look unbounded (r11)
    assert expression_lookback(trend.aroon(14)) == 0


def test_expression_lookback_catches_framefree_and_rank_family():
    """ADVICE r7: the unbounded detection must also catch (a) the
    ranking/distribution family whose names dodge \\brank\\( after an
    underscore, and (b) implicit-frame running aggregates whose SQL
    never spells 'UNBOUNDED PRECEDING' — while still counting lag's
    frameless OVER (bounded navigation, args nested arbitrarily deep,
    e.g. eom's two-level arithmetic) as its offset."""
    from pandas_ta_spark.plans.strategy import expression_lookback

    class Fake:
        kernel = None
        stages = None
        final = None

        def __init__(self, sql):
            self.sql_stages = [{"x": sql}]
            self.sql_final = None

    over = "OVER (PARTITION BY s ORDER BY ts)"
    for fn in ("percent_rank()", "dense_rank()", "ntile(4)",
               "cume_dist()"):
        assert expression_lookback(Fake(f"{fn} {over}")) is None, fn
    # implicit frame = RANGE UNBOUNDED PRECEDING: unbounded without the
    # literal text
    assert expression_lookback(Fake(f"sum(x) {over}")) is None
    # bounded navigation stays bounded, nested args and all
    assert expression_lookback(Fake(f"lag(((a + b) / 2), 3) {over}")) == 3
    # explicit ROWS frame stays bounded
    assert expression_lookback(Fake(
        "avg(x) OVER (PARTITION BY s ORDER BY ts "
        "ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)")) == 9
    # COMPOSED depth: a raw stage's lag(1) + a final 13-PRECEDING
    # window = 14 rows of true history (per-stage maxima SUM — the old
    # max-only reading under-counted stacked windows, e.g. hma).
    # eom itself became an Arrow kernel in r14's ROLL absorption and
    # now declares the same depth via carry_rows.
    class Fake2(Fake):
        def __init__(self):
            self.sql_stages = [
                {"t": f"(x - lag(x, 1) {over})"},
                {"u": ("avg(t) OVER (PARTITION BY s ORDER BY ts "
                       "ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)")},
            ]
            self.sql_final = None

    assert expression_lookback(Fake2()) == 14
    from pandas_ta_spark.registry import default_instance

    assert default_instance("eom_14").kernel.carry_rows == 14


def test_asof_join_property_vs_merge_asof(spark):
    """Property-based check of the union-and-carry as-of join against
    pandas merge_asof (allow_exact_matches=False on the event's hour)
    over random event/bar panels — including bars landing exactly on an
    event's hour boundary (must NOT match: a bar's close is only
    knowable once its hour ends) and symbols with no prior bar (NULL)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pandas_ta_spark.ext.relational import asof_join

    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.data())
    def check(data):
        rng = np.random.default_rng(data.draw(st.integers(0, 10_000)))
        t0 = pd.Timestamp("2024-01-01")
        ev_rows, bar_rows = [], []
        eid = 0
        for sym in ("A", "B", "C"):
            # events at random minute offsets across 3 days
            for _ in range(rng.integers(5, 25)):
                ev_rows.append((eid, sym,
                                t0 + pd.Timedelta(minutes=int(rng.integers(0, 72 * 60))),
                                float(rng.normal())))
                eid += 1
            # bars on a random subset of hour boundaries (B gets none
            # sometimes -> all-NULL joins for it)
            n_bars = int(rng.integers(0, 20)) if sym == "B" else int(rng.integers(1, 30))
            hours = rng.choice(np.arange(72), size=n_bars, replace=False)
            for h in hours:
                bar_rows.append((sym, t0 + pd.Timedelta(hours=int(h)),
                                 float(rng.normal(100, 5))))
        ev_pdf = pd.DataFrame(ev_rows, columns=["event_id", "symbol", "ts", "value"])
        ev_pdf["ts"] = ev_pdf["ts"].astype("datetime64[us]")
        bar_pdf = pd.DataFrame(bar_rows, columns=["symbol", "ts", "close"])
        bar_pdf["ts"] = bar_pdf["ts"].astype("datetime64[us]")
        for c in ("open", "high", "low"):
            bar_pdf[c] = bar_pdf["close"]
        bar_pdf["volume"] = 1.0

        got = (asof_join(spark.createDataFrame(ev_pdf),
                         spark.createDataFrame(bar_pdf))
               .toPandas().sort_values("event_id").reset_index(drop=True))

        left = ev_pdf.copy()
        left["hour"] = left["ts"].dt.floor("h")
        want = pd.merge_asof(
            left.sort_values("hour"),
            bar_pdf[["symbol", "ts", "close"]]
            .rename(columns={"ts": "bar_ts", "close": "bar_close"})
            .sort_values("bar_ts"),
            left_on="hour", right_on="bar_ts", by="symbol",
            allow_exact_matches=False, direction="backward",
        ).sort_values("event_id").reset_index(drop=True)

        assert got["event_id"].tolist() == want["event_id"].tolist()
        g_ts, w_ts = got["bar_ts"], want["bar_ts"]
        assert ((g_ts == w_ts) | (g_ts.isna() & w_ts.isna())).all()
        g_c, w_c = got["bar_close"], want["bar_close"]
        assert ((g_c == w_c) | (g_c.isna() & w_c.isna())).all()

    check()


def test_rolling_beta_property_vs_numpy(spark):
    """Property-based check of rolling_beta_24 against an independent
    numpy reimplementation of the same quantized pipeline, over random
    panels with missing hours per symbol."""
    import math
    import tempfile

    import numpy as np
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pandas_ta_spark.ext.relational import BETA_N, BETA_SCALE, SUITE

    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.data())
    def check(data):
        rng_seed = data.draw(st.integers(0, 10_000))
        rng = np.random.default_rng(rng_seed)
        n_hours = BETA_N + 10
        rows = []
        for sym in ("A", "B", "C"):
            # drop a few random hours to desynchronize the panel
            drop = set(rng.choice(np.arange(1, n_hours), size=3, replace=False))
            price = 50.0
            for h in range(n_hours):
                price *= math.exp(rng.normal(0, 0.05))
                if h in drop:
                    continue
                rows.append((sym, h, price))
        pdf = pd.DataFrame(rows, columns=["event_type", "hour", "value"])
        pdf["ts"] = (pd.Timestamp("2024-01-01")
                     + pd.to_timedelta(pdf["hour"], unit="h")).astype("datetime64[us]")
        pdf["event_id"] = range(len(pdf))
        pdf["user_id"] = 0
        pdf["props"] = "{}"
        with tempfile.TemporaryDirectory() as sf:
            pdf[["event_id", "event_type", "ts", "value", "user_id", "props"]].to_parquet(
                f"{sf}/events.parquet")
            got = (SUITE["rolling_beta_24"].query(spark, sf).toPandas()
                   .sort_values(["symbol", "ts"]).reset_index(drop=True))

        # independent reimplementation of the quantized pipeline
        ref = pdf.sort_values(["event_type", "ts"]).copy()
        ref["lr"] = np.log(ref["value"]
                           / ref.groupby("event_type")["value"].shift(1))
        ref["q"] = np.floor(ref["lr"] * BETA_SCALE + 0.5)
        mkt = ref.groupby("ts")["q"].agg(["sum", "count"])
        ref["qm"] = ref["ts"].map(
            np.floor(mkt["sum"] / mkt["count"] + 0.5).where(mkt["count"] > 0))
        exp_rows = {}
        for sym, g in ref.groupby("event_type"):
            g = g.reset_index(drop=True)
            for i in range(len(g)):
                w = g.iloc[max(0, i - BETA_N + 1): i + 1]
                valid = w.dropna(subset=["q", "qm"])
                n = len(valid)
                beta = corr = np.nan
                if n >= BETA_N:
                    sx, sy = valid["q"].sum(), valid["qm"].sum()
                    sxy = (valid["q"] * valid["qm"]).sum()
                    sxx = (valid["q"] ** 2).sum()
                    syy = (valid["qm"] ** 2).sum()
                    cov_s = n * sxy - sx * sy
                    varx_s = n * sxx - sx * sx
                    vary_s = n * syy - sy * sy
                    if vary_s != 0:
                        beta = cov_s / vary_s
                    if varx_s > 0 and vary_s > 0:
                        corr = cov_s / math.sqrt(varx_s * vary_s)
                exp_rows[(sym, g.loc[i, "ts"])] = (n, beta, corr)

        assert len(got) == len(exp_rows)
        for _, r in got.iterrows():
            n, beta, corr = exp_rows[(r["symbol"], r["ts"])]
            assert r["n_obs"] == n, (r["symbol"], r["ts"])
            for name, g_val, e_val in (("beta", r["beta"], beta),
                                       ("corr", r["corr"], corr)):
                if np.isnan(e_val):
                    assert pd.isna(g_val), (name, r["symbol"], r["ts"])
                else:
                    assert abs(g_val - e_val) < 1e-5, (name, r["symbol"], r["ts"])

    check()


def test_media_frame_sample_shape(spark):
    """Frame sampling is the 1-row -> N-rows mapInPandas shape: a long
    payload yields N_FRAME_SAMPLES evenly spaced frames, a short one
    yields fewer (one per whole frame), and a sub-frame payload yields
    none."""
    from pandas_ta_spark.ext.media import (
        FRAME_BYTES, N_FRAME_SAMPLES, sample_frames, with_media_column,
    )

    docs = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["x" * (FRAME_BYTES * 10),   # 10 frames -> 4 samples
                 "y" * (FRAME_BYTES * 2),    # 2 frames -> 2 samples
                 "z" * (FRAME_BYTES - 1)],   # 0 frames -> no rows
    })
    out = (sample_frames(with_media_column(spark.createDataFrame(docs)))
           .toPandas().sort_values(["doc_id", "sample_j"]))
    by_doc = out.groupby("doc_id").size().to_dict()
    assert by_doc == {0: N_FRAME_SAMPLES, 1: 2}
    # evenly spaced: j*fc//n_take for fc=10, n=4 -> 0, 2, 5, 7
    assert out[out["doc_id"] == 0]["frame_idx"].tolist() == [0, 2, 5, 7]
    # all-identical bytes -> identical frame hashes and means
    d0 = out[out["doc_id"] == 0]
    assert d0["frame_hash"].nunique() == 1
    assert (d0["frame_mean"] == float(ord("x"))).all()


def test_sessionize_property_vs_pandas(spark):
    """Property-based check of gap sessionization against an independent
    pandas implementation over random event streams, with gaps planted
    EXACTLY at the 30-minute boundary (must merge: only strictly larger
    gaps split — the rule that keeps the batch op row-compatible with
    Spark's native session_window streaming twin)."""
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pandas_ta_spark.ext.relational import SESSION_GAP_US, SUITE

    gap_min = SESSION_GAP_US // 60_000_000

    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.data())
    def check(data):
        rng = np.random.default_rng(data.draw(st.integers(0, 10_000)))
        t0 = pd.Timestamp("2024-01-01")
        rows = []
        eid = 0
        for user in range(1, 5):
            t = t0 + pd.Timedelta(minutes=int(rng.integers(0, 60)))
            for _ in range(int(rng.integers(3, 30))):
                choice = rng.random()
                if choice < 0.25:
                    step = pd.Timedelta(minutes=gap_min)        # boundary: merge
                elif choice < 0.5:
                    step = pd.Timedelta(minutes=gap_min, seconds=1)  # split
                else:
                    step = pd.Timedelta(seconds=int(rng.integers(1, 600)))
                t = t + step
                rows.append((eid, user, t,
                             ["view", "click", "purchase"][int(rng.integers(3))]))
                eid += 1
        pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts",
                                          "event_type"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf["value"] = 1.0
        pdf["props"] = "{}"
        with tempfile.TemporaryDirectory() as sf:
            pdf.to_parquet(f"{sf}/events.parquet")
            got = (SUITE["sessionize_30m"].query(spark, sf).toPandas()
                   .sort_values(["user_id", "session_no"])
                   .reset_index(drop=True))

        ref = pdf.sort_values(["user_id", "ts", "event_id"]).copy()
        prev = ref.groupby("user_id")["ts"].shift(1)
        new_s = (prev.isna()
                 | ((ref["ts"] - prev) > pd.Timedelta(minutes=gap_min)))
        ref["session_no"] = new_s.astype(int).groupby(ref["user_id"]).cumsum()
        want = (ref.groupby(["user_id", "session_no"])
                .agg(n_events=("event_id", "size"),
                     session_start=("ts", "min"),
                     session_end=("ts", "max"),
                     n_event_types=("event_type", "nunique"))
                .reset_index())
        want["duration_sec"] = ((want["session_end"] - want["session_start"])
                                // pd.Timedelta(seconds=1))
        want = (want.sort_values(["user_id", "session_no"])
                .reset_index(drop=True))

        assert len(got) == len(want)
        for c in ("user_id", "session_no", "n_events", "n_event_types",
                  "duration_sec"):
            assert got[c].astype("int64").tolist() == \
                want[c].astype("int64").tolist(), c
        assert (got["session_start"] == want["session_start"]).all()
        assert (got["session_end"] == want["session_end"]).all()

    check()


def test_expression_lookback_classifies_every_registry_op(spark):
    """The chunk-contract introspection must classify EVERY suite
    indicator without crashing: kernel ops carry their own contract
    (carry_rows), expression ops must parse to a bounded depth or be
    explicitly unbounded — no op may silently fall through."""
    from pandas_ta_spark.plans.strategy import expression_lookback
    from pandas_ta_spark.registry import _SUITE

    n_bounded = n_unbounded = n_kernel = 0
    for key, fac in _SUITE.items():
        ind = fac()
        d = expression_lookback(ind)
        if ind.kernel is not None:
            n_kernel += 1
            continue
        if d is None:
            n_unbounded += 1
        else:
            assert 0 <= d < 10_000, (key, d)
            n_bounded += 1
    # sanity: all three classes are populated, and most expression ops
    # are bounded (the chunkable common case)
    assert n_kernel > 50
    assert n_bounded > 40
    assert n_unbounded > 5
    assert n_bounded > n_unbounded


def test_chunked_strategy_property_parity(spark):
    """Property-based twin of the fixed-config chunked parity tests:
    random chunk sizes, lookbacks and indicator subsets must reproduce
    the unchunked plan bit-for-bit whenever the contract holds (depth <=
    lookback) — at any chunk size, including chunks with fewer rows than
    the indicators read."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pandas_ta_spark.operators import momentum, overlap, statistics, volatility
    from pandas_ta_spark.plans.strategy import apply_strategy, apply_strategy_chunked

    pool = [lambda: overlap.sma(20), lambda: overlap.wma(10),
            lambda: statistics.stdev(30), lambda: volatility.donchian(20),
            lambda: momentum.roc(10), lambda: momentum.mom(10),
            lambda: overlap.trima(10), lambda: momentum.willr(14)]

    @settings(max_examples=5, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.data())
    def check(data):
        rng = np.random.default_rng(data.draw(st.integers(0, 10_000)))
        idx = sorted(rng.choice(len(pool), size=3, replace=False))
        inds = [pool[i]() for i in idx]
        lookback = int(rng.integers(30, 40))
        from tests.conftest import make_pdf

        pdf = pd.concat([make_pdf(260, int(rng.integers(0, 100)), "A"),
                         make_pdf(200, int(rng.integers(0, 100)), "B")],
                        ignore_index=True)
        bars = spark.createDataFrame(pdf).repartition(4)
        plain = (apply_strategy(bars, inds).toPandas()
                 .sort_values(["symbol", "ts"]).reset_index(drop=True))
        # hourly rows: one width under most pool depths (12-19 rows per
        # chunk) and one drawn from 12 hours to 5 days
        for hours in (int(rng.integers(12, 20)), int(rng.integers(12, 121))):
            chunked = (apply_strategy_chunked(bars, inds, lookback=lookback,
                                              chunk=f"{hours} hours")
                       .toPandas().sort_values(["symbol", "ts"])
                       .reset_index(drop=True))
            assert len(plain) == len(chunked)
            for c in plain.columns:
                a, b = plain[c], chunked[c]
                if a.dtype == object or c in ("symbol", "ts"):
                    assert (a == b).all(), (hours, c)
                else:
                    assert ((a == b) | (a.isna() & b.isna())).all(), (hours, c)

    check()


def test_ticker_parquet_json_resolution(spark, pdf_bars, tmp_path):
    """ticker() format resolution: parquet wins over csv for the same
    stem; json-only resolves; all land on the canonical schema."""
    from pandas_ta_spark.sources.formats import ticker

    vend = tmp_path / "vendor2"
    vend.mkdir()
    src = pdf_bars[pdf_bars["symbol"] == "A"]
    # parquet + a DIFFERENT csv under the same stem: parquet must win
    src.to_parquet(vend / "AAA.parquet")
    src.head(3).drop(columns=["symbol"]).to_csv(vend / "AAA.csv", index=False)
    df = ticker(spark, "aaa", str(vend))
    assert df.count() == len(src)  # parquet row count, not the 3-row csv
    # json-only stem
    (src.drop(columns=["symbol"])
        .to_json(vend / "BBB.json", orient="records", lines=True,
                 date_format="iso"))
    dj = ticker(spark, "BBB", str(vend))
    assert [f.name for f in dj.schema.fields] == [
        "symbol", "ts", "open", "high", "low", "close", "volume"]
    assert dj.count() == len(src)
    assert dj.select("symbol").distinct().collect()[0][0] == "BBB"


def test_resample_bars_property_vs_pandas(spark):
    """Property-based check of the bars->bars resampler against pandas
    resample over random panels with missing bars (OHLC semantics:
    first open / last close / max high / min low / summed volume)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pandas_ta_spark.sources.bars import resample_bars

    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.data())
    def check(data):
        rng = np.random.default_rng(data.draw(st.integers(0, 10_000)))
        minutes = int(rng.choice([240, 1440]))
        rows = []
        t0 = pd.Timestamp("2024-01-01")
        for sym in ("A", "B"):
            hours = sorted(rng.choice(np.arange(120), size=60, replace=False))
            for h in hours:
                c = float(rng.normal(100, 5))
                rows.append((sym, t0 + pd.Timedelta(hours=int(h)),
                             c + 1, c + 2, c - 2, c, float(rng.integers(1, 9))))
        pdf = pd.DataFrame(rows, columns=["symbol", "ts", "open", "high",
                                          "low", "close", "volume"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        got = (resample_bars(spark.createDataFrame(pdf), minutes)
               .toPandas().sort_values(["symbol", "ts"])
               .reset_index(drop=True))
        want = (pdf.set_index("ts").groupby("symbol")
                .resample(f"{minutes}min")
                .agg({"open": "first", "high": "max", "low": "min",
                      "close": "last", "volume": "sum"})
                .dropna().reset_index()
                .sort_values(["symbol", "ts"]).reset_index(drop=True))
        assert len(got) == len(want)
        assert (got["ts"] == want["ts"]).all()
        for c in ("open", "high", "low", "close", "volume"):
            assert (got[c] == want[c]).all(), c

    check()


def test_xsec_ops_property_vs_pandas(spark):
    """Property-based check of the cross-sectional rank and winsorized
    z-score against independent pandas groupby computations over random
    event panels (including sign-flipping values that winsorization must
    tame)."""
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pandas_ta_spark.ext.relational import (
        SUITE, XSEC_SCALE, XSEC_WINSOR,
    )

    @settings(max_examples=5, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.data())
    def check(data):
        rng = np.random.default_rng(data.draw(st.integers(0, 10_000)))
        rows = []
        eid = 0
        t0 = pd.Timestamp("2024-01-01")
        for sym in ("a", "b", "c", "d"):
            # values near zero sometimes -> extreme returns
            for h in range(40):
                v = float(rng.normal(10, 8))
                rows.append((eid, sym, t0 + pd.Timedelta(hours=h), v))
                eid += 1
        pdf = pd.DataFrame(rows, columns=["event_id", "event_type", "ts",
                                          "value"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf["user_id"] = 0
        pdf["props"] = "{}"
        with tempfile.TemporaryDirectory() as sf:
            pdf.to_parquet(f"{sf}/events.parquet")
            rank = (SUITE["xsec_rank_ret1"].query(spark, sf).toPandas()
                    .sort_values(["ts", "symbol"]).reset_index(drop=True))
            zs = (SUITE["xsec_zscore_ret1"].query(spark, sf).toPandas()
                  .sort_values(["ts", "symbol"]).reset_index(drop=True))

        # independent expectation: bars == hourly (one event per hour)
        b = pdf.rename(columns={"event_type": "symbol", "value": "close"})
        b = b.sort_values(["symbol", "ts"])
        b["ret"] = b["close"] / b.groupby("symbol")["close"].shift(1) - 1
        nn = b.dropna(subset=["ret"]).copy()
        # rank: (ret, symbol) lexicographic within ts
        nn = nn.sort_values(["ts", "ret", "symbol"])
        nn["rk"] = nn.groupby("ts").cumcount() + 1
        nn["n"] = nn.groupby("ts")["ret"].transform("size")
        want_rank = nn.sort_values(["ts", "symbol"]).reset_index(drop=True)
        assert rank["xsec_rank"].tolist() == want_rank["rk"].tolist()
        assert rank["n_xsec"].tolist() == want_rank["n"].tolist()
        # z-score: winsorize -> quantize -> sample std
        nn["q"] = np.floor(np.clip(nn["ret"], -XSEC_WINSOR, XSEC_WINSOR)
                           * XSEC_SCALE + 0.5)
        nn2 = nn.sort_values(["ts", "symbol"]).reset_index(drop=True)
        zexp2 = ((nn2["q"] - nn2.groupby("ts")["q"].transform("mean"))
                 / nn2.groupby("ts")["q"].transform("std"))
        sd = nn2.groupby("ts")["q"].transform("std")
        zexp2 = zexp2.where(sd > 0)
        a, w = zs["xsec_z"], zexp2
        assert ((a.isna() & w.isna()) | ((a - w).abs() < 1e-6)).all()

    check()


def test_strategy_dataclass_surface(spark, bars, pdf_bars):
    """The reference's Strategy argument forms (pandas_ta/core.py):
    Strategy dataclass with close/prefix dicts, category string, 'all',
    validation errors — all normalized into the one-plan batch."""
    import pytest as _pytest

    import pandas_ta_spark as pts
    from pandas_ta_spark.strategy_spec import resolve_strategy
    from tests.conftest import assert_close, one_symbol

    # validation (reference __post_init__ behavior)
    with _pytest.raises(ValueError, match="name"):
        pts.Strategy(name="")
    with _pytest.raises(ValueError, match="'ta'"):
        pts.Strategy(name="x", ta=[])
    with _pytest.raises(ValueError, match="'ta'"):
        pts.Strategy(name="x", ta=[{"length": 3}])  # no kind

    # CommonStrategy end-to-end: price SMAs + VOLUME_-prefixed volume SMA
    out = pts.TA(bars).strategy(pts.CommonStrategy)
    for c in ("SMA_10", "SMA_20", "SMA_50", "SMA_200", "VOLUME_SMA_20"):
        assert c in out.columns, c
    pdf = one_symbol(out.toPandas())
    ref = one_symbol(pdf_bars)
    assert_close(pdf["VOLUME_SMA_20"], ref["volume"].rolling(20).mean(),
                 name="volume-sma-prefix")
    assert_close(pdf["SMA_20"], ref["close"].rolling(20).mean(),
                 name="price-sma")

    # category string: every momentum default, exclude filter honored
    inds = resolve_strategy("momentum", exclude=("rsi",))
    assert inds and all(i.category == "momentum" for i in inds)
    assert all(i.key != "rsi" for i in inds)
    assert any(i.key == "macd" for i in inds)

    # 'all' == AllStrategy == ta=None, collision-free full suite
    all1 = resolve_strategy("all")
    all2 = resolve_strategy(pts.AllStrategy)
    assert [i.key for i in all1] == [i.key for i in all2]
    assert len(all1) > 100
    outs = [o for i in all1 for o in i.outputs]
    assert len(outs) == len(set(outs))  # no output collisions

    # exclude applies to the native list-of-Indicator passthrough too
    # (ADVICE r8: it was silently ignored on this form)
    from pandas_ta_spark.registry import make

    kept = resolve_strategy([make("sma", length=5), make("rsi", length=14)],
                            exclude=("rsi",))
    assert [i.key for i in kept] == ["sma"]

    # unknown spec fails loudly
    with _pytest.raises(ValueError, match="unknown strategy"):
        resolve_strategy("not-a-category")

    # prefix on a kernel-path indicator renames its Arrow outputs (r14:
    # the ROLL absorption moved many ops to kernels, so the old loud
    # refusal became a supported wrap — see strategy_spec._renamed)
    kinds = resolve_strategy(pts.Strategy(
        name="k", ta=[{"kind": "supertrend", "prefix": "X"}]))
    assert all(o.startswith("X_") for o in kinds[0].outputs)
    assert kinds[0].kernel is not None
    assert list(kinds[0].kernel.outputs) == list(kinds[0].outputs)


def test_accessor_attribute_dispatch_and_col_names(spark, bars, pdf_bars):
    """The reference's primary call convention — df.ta.rsi(length=14) —
    plus col_names renames in both single calls and strategy dicts."""
    import pytest as _pytest

    import pandas_ta_spark as pts
    from tests.conftest import assert_close, one_symbol

    t = pts.TA(bars)
    out = t.rsi(length=14)
    assert "RSI_14" in out.columns
    out2 = t.sma(length=5, col_names=("MY_SMA",))
    assert "MY_SMA" in out2.columns and "SMA_5" not in out2.columns
    pdf = one_symbol(out2.toPandas())
    assert_close(pdf["MY_SMA"],
                 one_symbol(pdf_bars)["close"].rolling(5).mean(),
                 name="col_names")
    with _pytest.raises(ValueError, match="col_names needs"):
        t.macd(col_names=("ONLY_ONE",))
    with _pytest.raises(AttributeError, match="not_an_indicator"):
        t.not_an_indicator()

    # strategy dict col_names
    out3 = t.strategy(pts.Strategy(
        name="renamed", ta=[{"kind": "sma", "length": 5,
                             "col_names": ("S5",)}]))
    assert "S5" in out3.columns


def test_doc_chunks_matches_python(spark):
    """Third-way recompute of the chunker on planted docs hitting every
    branch: short doc (1 chunk), exact-boundary doc (128 tokens, still
    1 chunk), one-past-boundary (129 -> 2 chunks with a short tail),
    and a long doc; chunk hashes pinned against hashlib over the same
    slices. Also pins the overlap: chunk i starts at i*112, so
    consecutive chunks share exactly 16 tokens."""
    import hashlib
    import math

    from pandas_ta_spark.ext.text import (
        CHUNK_OVL,
        CHUNK_STRIDE,
        CHUNK_TOK,
        doc_chunks,
    )

    docs = {
        1: "alpha beta gamma",
        2: " ".join(f"t{i}" for i in range(CHUNK_TOK)),          # ==128
        3: " ".join(f"t{i}" for i in range(CHUNK_TOK + 1)),      # 129
        4: " ".join(f"t{i}" for i in range(400)),
    }
    pdf = pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    got = (doc_chunks(spark.createDataFrame(pdf)).toPandas()
           .sort_values(["doc_id", "chunk_id"]).reset_index(drop=True))

    exp_rows = []
    for did, text in docs.items():
        toks = text.strip().lower().split(" ")
        n = len(toks)
        n_chunks = 1 if n <= CHUNK_TOK else 1 + math.ceil(
            (n - CHUNK_TOK) / CHUNK_STRIDE)
        for i in range(n_chunks):
            sl = toks[i * CHUNK_STRIDE: i * CHUNK_STRIDE + CHUNK_TOK]
            exp_rows.append((did, i, i * CHUNK_STRIDE, len(sl),
                             hashlib.md5(" ".join(sl).encode()).hexdigest()))
    exp = pd.DataFrame(exp_rows, columns=[
        "doc_id", "chunk_id", "start_tok", "n_tok", "chunk_hash"])
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    for col in ("chunk_id", "start_tok", "n_tok", "chunk_hash"):
        assert got[col].tolist() == exp[col].tolist(), col
    # branch pins: 128 tokens -> 1 chunk; 129 -> 2 (tail = overlap+1)
    assert (got[got.doc_id == 2]["n_tok"].tolist() == [CHUNK_TOK])
    assert got[got.doc_id == 3]["n_tok"].tolist() == [
        CHUNK_TOK, CHUNK_OVL + 1]
    # overlap: token index sets of adjacent chunks intersect in OVL ids
    g4 = got[got.doc_id == 4]
    assert (g4["start_tok"].diff().dropna() == CHUNK_STRIDE).all()


def test_chunk_dup_rate_planted_boilerplate(spark):
    """Planted boilerplate: two docs of source 'web' start with an
    identical 160-token templated span followed by per-doc unique
    tails (260 tokens each -> chunk grid 0/112/224), while a 'book'
    doc is all-unique. Only chunk 0 (tokens 0..127, fully inside the
    shared template) hashes identically across the two docs; chunk 1
    (112..239) mixes template tail with unique tokens and chunk 2 is
    all-unique — so dup chunks appear exactly where the template lands
    chunk-aligned: n_dup = 2 of 6 web chunks."""
    import pandas as pd

    from pandas_ta_spark.ext.text import chunk_dup_rate, doc_chunks

    tpl = " ".join(f"tpl{i}" for i in range(160))
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [tpl + " " + " ".join(f"a{i}" for i in range(100)),
                 tpl + " " + " ".join(f"b{i}" for i in range(100)),
                 " ".join(f"u{i}" for i in range(150))],
        "source": ["web", "web", "book"],
    })
    out = (chunk_dup_rate(spark.createDataFrame(docs)).toPandas()
           .sort_values("source").reset_index(drop=True))
    book = out[out.source == "book"].iloc[0]
    web = out[out.source == "web"].iloc[0]
    assert book["n_dup"] == 0 and book["dup_rate"] == 0.0
    # 3 chunks per web doc; only the template-aligned chunk 0 dups
    assert web["n_chunks"] == 6 and web["n_dup"] == 2
    assert abs(web["dup_rate"] - 2.0 / 6.0) < 1e-6

    # the chunker itself is STATELESS, so it applies to a readStream
    # DataFrame unchanged — declarative ops are streaming-ready
    sdf = spark.readStream.format("rate").load().selectExpr(
        "value AS doc_id", "'alpha beta gamma' AS text")
    chunked = doc_chunks(sdf)
    assert chunked.isStreaming
    assert set(chunked.columns) == {
        "doc_id", "chunk_id", "start_tok", "n_tok", "chunk_hash"}


def test_doc_chunks_tiling_property(spark):
    """Property: for ANY token count n >= 1 the chunk grid tiles the doc
    — starts are 0, STRIDE, 2*STRIDE, ...; every token index 0..n-1 is
    covered by >= 1 chunk; consecutive chunks overlap by exactly
    CHUNK_OVL token positions (except a short tail covers less); the
    LAST chunk always reaches token n-1 (no dropped tail); and chunk
    sizes are CHUNK_TOK except possibly the final one."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pandas_ta_spark.ext.text import CHUNK_STRIDE, CHUNK_TOK, doc_chunks

    @settings(max_examples=12, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.integers(min_value=1, max_value=700))
    def check(n):
        pdf = pd.DataFrame(
            {"doc_id": [1], "text": [" ".join(f"t{i}" for i in range(n))]})
        out = (doc_chunks(spark.createDataFrame(pdf)).toPandas()
               .sort_values("chunk_id").reset_index(drop=True))
        starts = out["start_tok"].tolist()
        sizes = out["n_tok"].tolist()
        assert starts == [i * CHUNK_STRIDE for i in range(len(out))]
        assert all(s == CHUNK_TOK for s in sizes[:-1])
        covered = set()
        for s, k in zip(starts, sizes):
            covered |= set(range(s, s + k))
        assert covered == set(range(n))          # full tiling, no gaps
        assert starts[-1] + sizes[-1] == n       # tail reaches the end
        if len(out) > 1:
            assert sizes[-1] >= 1                # never an empty chunk

    check()


def test_chunked_rows_strategy_exact_parity(spark, bars):
    """apply_strategy_chunked_rows (the auto-router backend) must match
    the unchunked plan bit-for-bit, including at the degenerate edges:
    chunk_rows == lookback (maximal carry overlap) and chunk_rows larger
    than any symbol's series (single chunk, no carries)."""
    from pandas_ta_spark.operators import (
        momentum, overlap, statistics, trend, volatility)
    from pandas_ta_spark.plans.strategy import (
        apply_strategy, apply_strategy_chunked_rows)

    inds = [overlap.sma(20), overlap.wma(10), statistics.stdev(30),
            volatility.donchian(20), momentum.roc(10), momentum.mom(10),
            trend.aroon(14)]
    plain = (apply_strategy(bars, inds, auto_chunk_rows=None).toPandas()
             .sort_values(["symbol", "ts"]).reset_index(drop=True))
    for chunk_rows in (30, 64, 100_000):  # == lookback, mid, > series
        chunked = (apply_strategy_chunked_rows(
            bars, inds, lookback=30, chunk_rows=chunk_rows)
            .toPandas().sort_values(["symbol", "ts"])
            .reset_index(drop=True))
        assert list(plain.columns) == list(chunked.columns)
        assert len(plain) == len(chunked)
        for c in plain.columns:
            a, b = plain[c], chunked[c]
            if a.dtype == object or c in ("symbol", "ts"):
                assert (a == b).all(), (chunk_rows, c)
            else:
                assert ((a == b) | (a.isna() & b.isna())).all(), (
                    chunk_rows, c)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="chunk_rows"):
        apply_strategy_chunked_rows(bars, inds, lookback=30, chunk_rows=29)
    with _pytest.raises(ValueError, match="bounded-lookback"):
        apply_strategy_chunked_rows(bars, [momentum.rsi(14)], lookback=30,
                                    chunk_rows=64)


def test_auto_router_skips_streaming_and_statless_frames(spark, tmp_path,
                                                         monkeypatch):
    """ADVICE r13: apply_strategy's default auto-routing must stay LAZY
    on frames it can't cheaply size — a streaming DataFrame (an eager
    count job would raise at plan-build time) and a stats-less plan
    (where _plan_maybe_big can't read optimizer stats, the router takes
    the plain path instead of paying a count job on every call)."""
    from pandas_ta_spark.operators import overlap
    from pandas_ta_spark.plans import strategy as S
    from tests.conftest import make_pdf

    src = tmp_path / "bars_stream"
    src.mkdir()
    make_pdf(50, 3, "A").to_parquet(src / "p.parquet")
    stream = (
        spark.readStream
        .schema("symbol string, ts timestamp, open double, high double,"
                " low double, close double, volume double")
        .parquet(str(src))
    )
    # plan-build must not run a job (it would raise on a stream)
    out = S.apply_strategy(stream, [overlap.sma(5)])
    assert out.isStreaming and "SMA_5" in out.columns

    # stats unavailable (connect, exotic plans) -> _plan_maybe_big says
    # False -> _max_rows_per_symbol short-circuits to 0 without a job
    monkeypatch.setattr(S, "_plan_maybe_big", lambda df: False)
    df = spark.createDataFrame(make_pdf(50, 3, "A"))
    assert S._max_rows_per_symbol(df) == 0


def test_auto_chunk_routing_skewed_parity(spark, monkeypatch):
    """The r13 skew auto-router: a plain apply_strategy call on a frame
    whose hottest symbol exceeds the threshold must (a) actually take
    the row-chunked path, as ONE stacked plan (no join, no second
    rank), and (b) return bit-identical rows — with the non-chunkable
    EWM/cumulative indicators computed underneath, and rows whose
    symbol or ts is NULL kept as the plain path keeps them."""
    import pandas as pd

    from pandas_ta_spark.operators import momentum, overlap, statistics
    from pandas_ta_spark.plans import kernels as K
    from pandas_ta_spark.plans import strategy as S
    from tests.conftest import make_pdf

    # one NULL-ts row per symbol and one NULL-symbol row: one per group,
    # so every per-symbol order stays deterministic
    nulls = make_pdf(3, 5, "HOT")
    nulls["symbol"] = ["HOT", "B", None]
    nulls["ts"] = [pd.NaT, pd.NaT, pd.Timestamp("2024-01-02")]
    pdf = pd.concat([make_pdf(2500, 7, "HOT"), make_pdf(300, 11, "B"),
                     nulls], ignore_index=True)
    df = spark.createDataFrame(pdf).repartition(4)
    inds = [overlap.sma(20), statistics.stdev(30), momentum.mom(10),
            overlap.ema(10), momentum.rsi(14), overlap.vwap()]

    plain = (S.apply_strategy(df, inds, auto_chunk_rows=None).toPandas()
             .sort_values(["symbol", "ts"]).reset_index(drop=True))

    routed = {"n": 0}
    real = S.apply_strategy_chunked_rows

    def spy(*a, **k):
        routed["n"] += 1
        return real(*a, **k)

    ranks = {"n": 0}
    real_rn0 = K.global_rn0

    def rn0_spy(*a, **k):
        ranks["n"] += 1
        return real_rn0(*a, **k)

    monkeypatch.setattr(S, "apply_strategy_chunked_rows", spy)
    monkeypatch.setattr(K, "global_rn0", rn0_spy)
    monkeypatch.setattr(S, "_AUTO_CHUNK_MIN_BYTES", 0)
    routed_df = S.apply_strategy(df, inds, auto_chunk_rows=1000)
    auto = (routed_df.toPandas()
            .sort_values(["symbol", "ts"]).reset_index(drop=True))
    assert routed["n"] == 1  # the router fired, no opt-in
    # the sequential half's rank feeds the chunked half: no second rank,
    # no (symbol, ts) join-back
    assert ranks["n"] == 0
    plan = routed_df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    # exact order, not set-equality: the route re-selects columns into
    # plain-path order (ADVICE r13)
    assert list(plain.columns) == list(auto.columns)
    assert len(plain) == len(auto) == len(pdf)
    for c in plain.columns:
        a, b = plain[c], auto[c]
        assert ((a == b) | (a.isna() & b.isna())).all(), c

    # below the threshold the router must NOT fire (fresh frame object:
    # the hot-rows memo is per DataFrame identity)
    df2 = spark.createDataFrame(pdf).repartition(4)
    routed["n"] = 0
    out = S.apply_strategy(df2, inds, auto_chunk_rows=1_000_000)
    out.limit(1).collect()
    assert routed["n"] == 0


def test_auto_chunk_routing_dotted_output_names(spark, monkeypatch):
    """The routed reorder must survive output names containing dots
    (CCI_14_0.015, BBL_5_2.0): a bare-string select parses them as
    struct field access (r14 bench crash at HEAD e8d30a4)."""
    from pandas_ta_spark.operators import momentum, overlap, volatility
    from pandas_ta_spark.plans import strategy as S
    from tests.conftest import make_pdf

    df = spark.createDataFrame(make_pdf(1500, 7, "HOT")).repartition(2)
    inds = [momentum.cci(14), volatility.bbands(), overlap.ema(10)]

    plain = (S.apply_strategy(df, inds, auto_chunk_rows=None).toPandas()
             .sort_values(["symbol", "ts"]).reset_index(drop=True))
    monkeypatch.setattr(S, "_AUTO_CHUNK_MIN_BYTES", 0)
    auto = (S.apply_strategy(df, inds, auto_chunk_rows=500).toPandas()
            .sort_values(["symbol", "ts"]).reset_index(drop=True))
    assert list(plain.columns) == list(auto.columns)
    for c in plain.columns:
        a, b = plain[c], auto[c]
        if a.dtype == object or c in ("symbol", "ts"):
            assert (a == b).all(), c
        else:
            assert ((a == b) | (a.isna() & b.isna())).all(), c


def test_rotation_ring_tail_anchors_new_keys(spark):
    """Key additions append at the ring TAIL (after the r11 block), so
    the r12-era prefix keeps its phase and the r13 window stays disjoint
    from the r12 driver artifact even as the suite grows (r13: the two
    quantize=False signal keys would otherwise have sorted into the
    prefix and shifted every later key)."""
    import json

    import __spark_entry__ as E

    keys = list(E.queries())
    ring = E._rotation_ring(keys)
    for k in E._POST_R12_KEYS:
        assert k in ring[-len(E._POST_R12_KEYS):], k
    w13 = set(E._window_for_round(13, keys))
    from pathlib import Path

    # relative to the entry module, not a hardcoded checkout path
    # (ADVICE r13)
    r12_artifact = set(json.load(open(
        Path(E.__file__).parent / "CORRECTNESS_r12.json")))
    assert not (w13 & r12_artifact)

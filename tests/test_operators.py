"""Golden-parity tests: Spark indicator output vs plain pandas formulas
on the same bars (SURVEY.md §5 two-tier tolerance: exact for FIR window
ops, corr >= 0.99 for IIR/state ops)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import assert_close, one_symbol

from pandas_ta_spark.functions.pdkernels import ema_pd, rma_pd
from pandas_ta_spark.operators import (
    candles,
    momentum,
    overlap,
    performance,
    statistics,
    trend,
    volatility,
    volume,
)


def run(bars, ind) -> pd.DataFrame:
    return ind.apply(bars).toPandas()


# ------------------------------------------------------------- overlap ----

def test_sma_wma_parity(bars, pdf_bars):
    from pandas_ta_spark.plans.strategy import apply_strategy

    out = apply_strategy(bars, [overlap.sma(20), overlap.wma(10), overlap.trima(10)])
    got = one_symbol(out.toPandas())
    ref = one_symbol(pdf_bars)
    c = ref["close"]
    assert_close(got["SMA_20"], c.rolling(20).mean(), name="sma")
    w = np.arange(1, 11, dtype=float)
    assert_close(
        got["WMA_10"],
        c.rolling(10).apply(lambda x: (x * w).sum() / w.sum(), raw=True),
        tol=1e-8, name="wma",
    )
    half = round(0.5 * (10 + 1))
    assert_close(got["TRIMA_10"],
                 c.rolling(half).mean().rolling(half).mean(), name="trima")


def test_sma_large_window_rewrite(bars, pdf_bars):
    """Cumsum-difference rewrite (O(1)/row) must match the direct frame
    aggregate within the 1e-8 term quantization."""
    got = one_symbol(run(bars, overlap.sma(100, large=True)))
    c = one_symbol(pdf_bars)["close"]
    assert_close(got["SMA_100"], c.rolling(100).mean(), tol=1e-6,
                 name="sma-large")


def test_ema_seeded_parity(bars, pdf_bars):
    got = one_symbol(run(bars, overlap.ema(10)))
    c = one_symbol(pdf_bars)["close"]
    assert_close(got["EMA_10"], ema_pd(c.reset_index(drop=True), 10),
                 name="ema-seeded")
    # IIR tier: converges to pandas default ewm
    default = c.ewm(span=10, adjust=False).mean()
    corr = np.corrcoef(got["EMA_10"][20:], default[20:])[0, 1]
    assert corr >= 0.99


def test_vwap_hma(bars, pdf_bars):
    from pandas_ta_spark.plans.strategy import apply_strategy

    out = one_symbol(apply_strategy(bars, [overlap.hma(10), overlap.vwap()]).toPandas())
    ref = one_symbol(pdf_bars)
    tp = (ref["high"] + ref["low"] + ref["close"]) / 3
    day = ref["ts"].dt.floor("D")
    pv = (tp * ref["volume"]).groupby(day).cumsum()
    vv = ref["volume"].groupby(day).cumsum()
    assert_close(out["VWAP_D"], pv / vv, tol=1e-6, name="vwap")
    assert out["HMA_10"].notna().sum() > 200


# ------------------------------------------------------------ momentum ----

def test_rsi_parity(bars, pdf_bars):
    got = one_symbol(run(bars, momentum.rsi(14)))
    c = one_symbol(pdf_bars)["close"].reset_index(drop=True)
    d = c.diff(1)
    pg = rma_pd(d.clip(lower=0), 14)
    pl = rma_pd((-d).clip(lower=0), 14)
    assert_close(got["RSI_14"], 100 * pg / (pg + pl), tol=1e-8, name="rsi")
    vals = got["RSI_14"].dropna()
    assert ((vals >= 0) & (vals <= 100)).all()


def test_macd_stoch_willr(bars, pdf_bars):
    from pandas_ta_spark.plans.strategy import apply_strategy

    out = one_symbol(apply_strategy(
        bars, [momentum.macd(), momentum.stoch(), momentum.willr(14)]).toPandas())
    ref = one_symbol(pdf_bars)
    c = ref["close"].reset_index(drop=True)
    line = ema_pd(c, 12) - ema_pd(c, 26)
    assert_close(out["MACD_12_26_9"], line, tol=1e-8, name="macd")
    assert_close(out["MACDs_12_26_9"], ema_pd(line, 9), tol=1e-8, name="macds")
    ll = ref["low"].rolling(14).min()
    hh = ref["high"].rolling(14).max()
    willr = 100 * ((ref["close"] - ll) / (hh - ll) - 1)
    assert_close(out["WILLR_14"], willr, tol=1e-8, name="willr")
    raw = 100 * (ref["close"] - ll) / (hh - ll)
    k = raw.rolling(3).mean()
    assert_close(out["STOCHk_14_3_3"], k, tol=1e-8, name="stochk")
    assert_close(out["STOCHd_14_3_3"], k.rolling(3).mean(), tol=1e-8, name="stochd")


def test_mom_roc_warmup_nulls(bars):
    from pandas_ta_spark.plans.strategy import apply_strategy

    out = one_symbol(apply_strategy(bars, [momentum.mom(10), momentum.roc(10)]).toPandas())
    assert out["MOM_10"].isna().sum() == 10
    assert out["ROC_10"].isna().sum() == 10


# ---------------------------------------------------------- statistics ----

def test_statistics_parity(bars, pdf_bars):
    from pandas_ta_spark.plans.strategy import apply_strategy

    out = one_symbol(apply_strategy(
        bars,
        [statistics.stdev(30), statistics.zscore(30), statistics.skew(30),
         statistics.kurtosis(30), statistics.median(30)]).toPandas())
    c = one_symbol(pdf_bars)["close"]
    assert_close(out["STDEV_30"], c.rolling(30).std(), tol=1e-8, name="stdev")
    z = (c - c.rolling(30).mean()) / c.rolling(30).std()
    assert_close(out["ZS_30"], z, tol=1e-8, name="zscore")
    assert_close(out["SKEW_30"], c.rolling(30).skew(), tol=1e-7, name="skew")
    assert_close(out["KURT_30"], c.rolling(30).kurt(), tol=1e-6, name="kurt")
    assert_close(out["MEDIAN_30"], c.rolling(30).median(), tol=1e-9, name="median")


# ---------------------------------------------------------- volatility ----

def test_volatility_parity(bars, pdf_bars):
    from pandas_ta_spark.plans.strategy import apply_strategy

    out = one_symbol(apply_strategy(
        bars, [volatility.bbands(5, 2.0), volatility.true_range(),
               volatility.atr(14), volatility.donchian()]).toPandas())
    ref = one_symbol(pdf_bars)
    c = ref["close"]
    mid = c.rolling(5).mean()
    sd = c.rolling(5).std(ddof=0)
    assert_close(out["BBM_5_2.0"], mid, name="bbm")
    assert_close(out["BBL_5_2.0"], mid - 2 * sd, tol=1e-8, name="bbl")
    assert_close(out["BBU_5_2.0"], mid + 2 * sd, tol=1e-8, name="bbu")
    prevc = c.shift(1)
    tr = pd.concat([ref["high"] - ref["low"], (ref["high"] - prevc).abs(),
                    (ref["low"] - prevc).abs()], axis=1).max(axis=1).where(prevc.notna())
    assert_close(out["TRUERANGE_1"], tr, name="tr")
    assert_close(out["ATRr_14"], rma_pd(tr.reset_index(drop=True), 14),
                 tol=1e-8, name="atr")
    assert_close(out["DCU_20_20"], ref["high"].rolling(20).max(), name="dcu")


# -------------------------------------------------------------- volume ----

def test_volume_parity(bars, pdf_bars):
    from pandas_ta_spark.plans.strategy import apply_strategy

    out = one_symbol(apply_strategy(bars, [volume.obv(), volume.ad(),
                                           volume.mfi(14)]).toPandas())
    ref = one_symbol(pdf_bars)
    sgn = np.sign(ref["close"].diff(1))
    sgn.iloc[0] = 1.0
    assert_close(out["OBV"], (sgn * ref["volume"]).cumsum(), tol=1e-6, name="obv")
    mfv = ((2 * ref["close"] - ref["high"] - ref["low"])
           / (ref["high"] - ref["low"]) * ref["volume"])
    # quantized deterministic cumsum: 1e-8-per-term tolerance
    assert_close(out["AD"], mfv.cumsum(), tol=1e-4, name="ad")
    vals = out["MFI_14"].dropna()
    assert ((vals >= 0) & (vals <= 100)).all()


# --------------------------------------------------------------- trend ----

def test_decay_matches_recursion(bars, pdf_bars):
    got = one_symbol(run(bars, trend.decay(5)))
    c = one_symbol(pdf_bars)["close"].to_numpy()
    ref = np.empty(len(c))
    prev = 0.0
    for i, x in enumerate(c):
        prev = max(x, prev - 1 / 5, 0.0)
        ref[i] = prev
    assert_close(got["LDECAY_5"], pd.Series(ref), tol=1e-9, name="decay")


def test_aroon_bounds_and_warmup(bars):
    got = one_symbol(run(bars, trend.aroon(14)))
    vals = got[["AROONU_14", "AROOND_14"]].dropna()
    assert ((vals >= 0) & (vals <= 100)).all().all()
    assert got["AROONU_14"].isna().sum() == 14


def test_supertrend_psar_shapes(bars):
    from pandas_ta_spark.plans.strategy import apply_strategy

    out = one_symbol(apply_strategy(bars, [overlap.supertrend(), trend.psar()]).toPandas())
    d = out["SUPERTd_7_3.0"].dropna()
    assert set(d.unique()) <= {1.0, -1.0}
    # one of long/short band set per row after warmup
    st = out.iloc[20:]
    assert ((st["PSARl_0.02_0.2"].notna() | st["PSARs_0.02_0.2"].notna())).all()


def test_mcgd_matches_recursion(bars, pdf_bars):
    """Golden parity for McGinley Dynamic: plain-Python recursion from
    pandas_ta/overlap/mcgd.py#mcgd vs the Arrow kernel, 1e-9 on the
    well-conditioned fixture. The kernel's domain guard (denominator
    clamped to >= 1, ratio := 0 at md = 0 — see overlap.mcgd) must be
    INERT here: the unguarded reference recursion is the expectation, so
    any guard activation on sane positive prices fails this test."""
    got = one_symbol(run(bars, overlap.mcgd(10)))
    x = one_symbol(pdf_bars)["close"].to_numpy()
    exp = np.empty(len(x))
    md = x[0]
    exp[0] = md
    for i in range(1, len(x)):
        denom = 1.0 * 10 * (x[i] / md) ** 4
        assert denom >= 1.0, "fixture left the guard-inert domain"
        md = md + (x[i] - md) / denom
        exp[i] = md
    assert_close(got["MCGD_10"], pd.Series(exp), tol=1e-9, name="mcgd")


def test_mcgd_guard_bounded_on_adversarial_series(spark):
    """The r7 domain guard must make the recursion a bounded contraction
    on series the reference formula diverges on (negative, near-zero and
    sign-flipping closes — the class the gate's derived bars hit): every
    output finite, |md| bounded by the running data range, and each step
    moves md toward the current close (never overshoots)."""
    import pandas as pd

    rng = np.random.default_rng(3)
    n = 400
    close = np.where(rng.random(n) < 0.3,
                     rng.normal(0, 0.01, n),          # near-zero band
                     rng.normal(0, 50, n))            # wild swings, both signs
    pdf = pd.DataFrame({
        "symbol": "A",
        "ts": pd.date_range("2024-01-01", periods=n, freq="h"),
        "open": close, "high": close, "low": close, "close": close,
        "volume": 1.0,
    })
    got = one_symbol(run(spark.createDataFrame(pdf), overlap.mcgd(10)))
    md = got["MCGD_10"].to_numpy()
    assert np.isfinite(md).all()
    bound = np.abs(close).max() + 1e-9
    assert (np.abs(md) <= bound).all()
    # contraction: |md_t - x_t| <= |md_{t-1} - x_t|
    gap_new = np.abs(md[1:] - close[1:])
    gap_old = np.abs(md[:-1] - close[1:])
    assert (gap_new <= gap_old + 1e-12).all()


def test_td_seq_matches_loop(bars, pdf_bars):
    """Sessionization trick (streak = rn - last failing rn) must equal
    the literal per-row counter loop."""
    got = one_symbol(run(bars, momentum.td_seq()))
    c = one_symbol(pdf_bars)["close"].to_numpy()
    up = np.zeros(len(c))
    dn = np.zeros(len(c))
    for i in range(len(c)):
        if i >= 4 and c[i] > c[i - 4]:
            up[i] = up[i - 1] + 1
        if i >= 4 and c[i] < c[i - 4]:
            dn[i] = dn[i - 1] + 1
    assert_close(got["TD_SEQ_UPa"], pd.Series(up), name="td_up")
    assert_close(got["TD_SEQ_DNa"], pd.Series(dn), name="td_dn")


def test_hilo_matches_loop(bars, pdf_bars):
    """last(ignorenulls) band-hold trick must equal the literal loop."""
    got = one_symbol(run(bars, overlap.hilo(13, 21)))
    ref = one_symbol(pdf_bars)
    mhi = ref["high"].rolling(13).mean().to_numpy()
    mlo = ref["low"].rolling(21).mean().to_numpy()
    c = ref["close"].to_numpy()
    n = len(c)
    band = np.full(n, np.nan)
    prev = np.nan
    for i in range(1, n):
        if c[i] > mhi[i - 1]:
            prev = mlo[i]
        elif c[i] < mlo[i - 1]:
            prev = mhi[i]
        band[i] = prev
    assert_close(got["HILO_13_21"], pd.Series(band), tol=1e-9, name="hilo")


def test_xsignals_consistency(bars):
    got = one_symbol(run(bars, trend.xsignals(30)))
    ent = got["XS_Entries"].fillna(0)
    ext = got["XS_Exits"].fillna(0)
    # entries and exits alternate: cumulative entries - exits stays in {0,1}
    state = (ent - ext).cumsum()
    assert state.isin([0, 1]).all()


# ------------------------------------------------------------- candles ----

def test_ha_recursion(bars, pdf_bars):
    got = one_symbol(run(bars, candles.ha()))
    ref = one_symbol(pdf_bars)
    hc = (ref["open"] + ref["high"] + ref["low"] + ref["close"]) / 4
    assert_close(got["HA_close"], hc, name="ha_close")
    ho = np.empty(len(ref))
    ho[0] = (ref["open"].iloc[0] + ref["close"].iloc[0]) / 2
    for i in range(1, len(ref)):
        ho[i] = (ho[i - 1] + hc.iloc[i - 1]) / 2
    assert_close(got["HA_open"], pd.Series(ho), name="ha_open")


# --------------------------------------------------------- performance ----

def test_drawdown(bars, pdf_bars):
    got = one_symbol(run(bars, performance.drawdown()))
    c = one_symbol(pdf_bars)["close"]
    assert_close(got["DD"], c.cummax() - c, name="dd")
    assert_close(got["DD_PCT"], 1 - c / c.cummax(), tol=1e-9, name="dd_pct")


# ------------------------------------------------------ kernel chunking ----

def test_chunked_kernels_match_unchunked(bars):
    """Epoch-chunked execution (plans/kernels.py assign_chunks) must be
    EXACTLY the unchunked result: chunk=80 forces 4 chunks on the 300-row
    symbol A / 250-row symbol B fixture across every finite-carry kernel
    family (order stats, moments, min/max, argmax-distance, chained rolls)."""
    from pandas_ta_spark.plans.kernels import run_kernels
    from pandas_ta_spark.operators import momentum, statistics, trend, volatility, volume

    inds = [statistics.median(30), statistics.stdev(30), statistics.mad(30),
            statistics.entropy(10), statistics.skew(30),
            momentum.stoch(), momentum.cci(14),
            trend.aroon(14), volatility.donchian(), volatility.bbands(),
            volume.mfi(14)]
    specs = [i.kernel for i in inds]
    assert all(s.carry_rows is not None for s in specs)
    cols = sorted(o for s in specs for o in s.outputs)
    whole = run_kernels(bars, specs, chunk_rows=10**9)
    chunked = run_kernels(bars, specs, chunk_rows=80)
    a = whole.orderBy("symbol", "ts").toPandas()[cols]
    b = chunked.orderBy("symbol", "ts").toPandas()[cols]
    assert len(a) == len(b) == 550
    for c in cols:
        x, y = a[c].to_numpy(float), b[c].to_numpy(float)
        same = (np.isnan(x) & np.isnan(y)) | (x == y)
        assert same.all(), f"{c}: {int((~same).sum())} rows differ"


def test_chunked_kernels_skewed_hot_symbol(spark):
    """Skewed-universe stress (VERDICT r10 ask #6): ONE symbol holds 80%
    of all rows — at production scale that symbol exceeds CHUNK_ROWS and
    epoch-chunks while simultaneously being the hot hash partition.
    Chunked output must EXACTLY equal unchunked on the skewed frame,
    through a full strategy pass (window stages + kernel pass sharing
    the hot hash(symbol) exchange), including planted NaN bars inside
    the hot symbol's chunk boundaries."""
    from tests.conftest import make_pdf
    from pandas_ta_spark.plans import kernels as K
    from pandas_ta_spark.plans.strategy import apply_strategy
    from pandas_ta_spark.operators import momentum, statistics, volatility

    # HOT: 2400 rows (80%); four cold symbols: 150 rows each (20%)
    frames = [make_pdf(2400, 3, "HOT")]
    frames += [make_pdf(150, 11 + i, f"C{i}") for i in range(4)]
    pdf = pd.concat(frames, ignore_index=True)
    # NaN bars land inside the hot symbol, straddling the 500-row epoch
    # grid (rows 499/500 are an epoch boundary at chunk_rows=500)
    for r in (499, 500, 1203):
        pdf.loc[r, ["high", "low", "close"]] = np.nan
    df = spark.createDataFrame(pdf).repartition(8)

    inds = [statistics.median(30), momentum.stoch(), momentum.cci(14),
            volatility.bbands(), volatility.donchian()]
    cols = sorted(o for i in inds for o in i.kernel.outputs)

    old = K.CHUNK_ROWS
    try:
        K.CHUNK_ROWS = 500  # hot symbol -> 5 epochs; cold symbols -> 1
        chunked = (apply_strategy(df, inds).orderBy("symbol", "ts")
                   .toPandas())
        K.CHUNK_ROWS = 10**9
        whole = (apply_strategy(df, inds).orderBy("symbol", "ts")
                 .toPandas())
    finally:
        K.CHUNK_ROWS = old

    assert len(whole) == len(chunked) == 3000
    for c in cols:
        x = whole[c].to_numpy(float)
        y = chunked[c].to_numpy(float)
        same = (np.isnan(x) & np.isnan(y)) | (x == y)
        assert same.all(), f"{c}: {int((~same).sum())} rows differ"


def test_chunked_kernel_forward_carry(bars, monkeypatch):
    """lead_rows chunking: ichimoku's chikou column reads kijun-1 FUTURE
    rows, so epoch e must receive the leading rows of epoch e+1
    (plans/kernels.py assign_chunks backward carry). chunk=80 > carry=77
    and > lead=25 forces the chunked path; equality must be exact —
    also when the frame already carries the rank (_pts_rn0), as the
    skew router's sequential half does: the pass chunks on it instead
    of ranking again, and keeps it. Either way the epoch pass is one
    subtree: no Union, one rank window."""
    import re

    from pandas_ta_spark.operators.overlap import ichimoku, sma
    from pandas_ta_spark.plans import kernels as K
    from pandas_ta_spark.plans import strategy as S
    from pandas_ta_spark.plans.kernels import global_rn0, run_kernels

    spec = ichimoku().kernel
    assert spec.carry_rows is not None and spec.lead_rows > 0
    cols = sorted(spec.outputs)
    whole = run_kernels(bars, [spec], chunk_rows=10**9)
    chunked = run_kernels(bars, [spec], chunk_rows=80)
    ranked = global_rn0(bars)
    reused = run_kernels(ranked, [spec], chunk_rows=80)
    assert reused.columns == ranked.columns + list(spec.outputs)
    for d in (chunked, reused):
        plan = d._jdf.queryExecution().optimizedPlan().toString()
        assert not re.search(r"^[\s:+-]*Union\b", plan, re.M), plan
        assert len(re.findall(r"^[\s:+-]*Window \[row_number\(\)",
                              plan, re.M)) == 1, plan
    a = whole.orderBy("symbol", "ts").toPandas()[cols]
    b = chunked.orderBy("symbol", "ts").toPandas()[cols]
    r = reused.orderBy("symbol", "ts").toPandas()[cols]
    assert len(a) == len(b) == len(r) == 550
    for c in cols:
        x, y, z = (f[c].to_numpy(float) for f in (a, b, r))
        for got in (y, z):
            same = (np.isnan(x) & np.isnan(got)) | (x == got)
            assert same.all(), f"{c}: {int((~same).sum())} rows differ"

    # through the skew router: a hot symbol past CHUNK_ROWS whose
    # sequential half holds only finite-carry kernels (ichimoku: unsafe
    # for row chunks by its lead) epoch-chunks that half on the route's
    # own rank
    inds = [ichimoku(), sma(10)]
    frame = bars.select("*")  # fresh object: the route memo is per frame
    plain = S.apply_strategy(frame, inds, auto_chunk_rows=None)
    epochs = []
    real = K._run_chunked
    monkeypatch.setattr(K, "_run_chunked",
                        lambda df, *a: epochs.append(1) or real(df, *a))
    monkeypatch.setattr(K, "CHUNK_ROWS", 80)
    monkeypatch.setattr(S, "_AUTO_CHUNK_MIN_BYTES", 0)
    routed = S.apply_strategy(frame, inds, auto_chunk_rows=100)
    assert epochs  # the sequential half took the epoch-chunked pass
    assert routed.columns == plain.columns
    p = plain.orderBy("symbol", "ts").toPandas()
    q = routed.orderBy("symbol", "ts").toPandas()
    assert len(p) == len(q) == 550
    for c in cols + ["SMA_10"]:
        x, y = p[c].to_numpy(float), q[c].to_numpy(float)
        same = (np.isnan(x) & np.isnan(y)) | (x == y)
        assert same.all(), f"routed {c}: {int((~same).sum())} rows differ"


def test_signals_quantize_opt_out(spark):
    """ADVICE r11: quantize=False gives strict raw comparisons with
    pandas boolean-indexing NaN semantics (NaN/NULL -> 0), while the
    default grid-tie contract counts a half-grid-step shortfall as a
    tie and propagates NULL on NaN comparands."""
    import math

    import pandas as pd
    from pyspark.sql import functions as F

    from pandas_ta_spark.functions.signals import above, cross

    pdf = pd.DataFrame({
        "symbol": ["A"] * 5,
        "ts": pd.date_range("2024-01-01", periods=5, freq="h"),
        # row0: a a full grid step below b (real difference)
        # row1: a 3e-7 below b (inside the grid tie band)
        # row2: exactly equal
        # row3: NaN comparand
        # row4: a above b
        "a": [1.0 - 1.1e-6, 1.0 - 3e-7, 1.0, math.nan, 1.5],
        "b": [1.0, 1.0, 1.0, 1.0, 1.0],
    })
    df = spark.createDataFrame(pdf)
    out = (df.orderBy("ts")
             .withColumn("q", above("a", "b"))
             .withColumn("raw", above("a", "b", quantize=False))
             .withColumn("xq", cross("a", "b"))
             .withColumn("xraw", cross("a", "b", quantize=False))
             .toPandas().sort_values("ts").reset_index(drop=True))
    # quantized: grid tie counts as >=, NaN -> NULL
    assert list(out["q"][:3]) == [0, 1, 1]
    assert pd.isna(out["q"][3])
    assert out["q"][4] == 1
    # raw opt-out: strict comparison, NaN -> 0 (pandas semantics)
    assert list(out["raw"][:3]) == [0, 0, 1]
    assert out["raw"][3] == 0
    assert out["raw"][4] == 1
    # raw cross flags 0 (not NULL) on warmup/NaN rows
    assert out["xraw"].notna().all()

"""Vectorized pandas kernels for the EWM family (run per-symbol via
plans/kernels.py inside Arrow-batched applyInPandas).

Semantics note (SURVEY.md §4.3.3, §7.6.1): we standardize every
exponential smoother on the *recursive* form

    y_warmup = NULL (t < n-1);  y_{n-1} = SMA(x[0:n]);
    y_t = alpha*x_t + (1-alpha)*y_{t-1}        (t >= n)

i.e. pandas ``ewm(..., adjust=False)`` with an SMA seed. This matches
TA-Lib/Wilder exactly and is expressible as a DuckDB recursive-CTE oracle
(see operators/ewm_sql.py). The reference's pandas path sometimes uses
``adjust=True`` (weighted-history form, e.g. ``pandas_ta/overlap/rma.py``);
the two converge geometrically and sit inside the reference's own
correlation>=0.99 test tolerance (``tests/config.py#CORRELATION_THRESHOLD``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def ewm_seeded(x: pd.Series, alpha: float, seed_n: int) -> pd.Series:
    """Recursive EWM with SMA(seed_n) seed and NULL warmup (see module doc).

    Leading NaNs (e.g. from an upstream chained smoother or shift) push the
    seed window forward, matching pandas' min_periods accounting on
    NaN-prefixed series.
    """
    out = pd.Series(np.nan, index=x.index, dtype="float64")
    v = x.to_numpy(dtype="float64")
    n = len(v)
    if seed_n <= 0:
        return out
    valid = np.flatnonzero(~np.isnan(v))
    if len(valid) == 0:
        return out
    fv = valid[0]  # first valid position
    seed_end = fv + seed_n  # exclusive
    if seed_end > n:
        return out
    res = np.full(n, np.nan)
    # the SMA seed uses the shared association-free form (base.seed_mean:
    # exact integer-quantized window sum / n, then grid-round) so batch,
    # streaming, and the DuckDB oracle (ewm_sql.sql_seed_mean) produce
    # bit-identical seeds — previously three differently-associated double
    # means could round to different 1e-6 grid points at a half-grid
    # boundary and the recursion propagated the flip (ADVICE r11). Off the
    # seed, the recursion is bit-identical to the CTE (constant-hold guard
    # + commutative-identical step).
    # seed_n == 1 (ema presma=False): the reference's sma=False branch
    # (pandas ewm adjust=False) starts the recursion from the RAW first
    # value — a 1-row "mean" through seed_mean would quantize it to the
    # 1e-6 grid and propagate up to a half-grid step through the whole
    # recursion (r12 ADVICE). A single raw value is already
    # association-free, so the grid tie-break the quantized seed exists
    # for cannot arise; the SQL twin (ewm_sql._emit_ewm_ctes n==1
    # branch) passes the same raw value through.
    from pandas_ta_spark.operators.base import seed_mean

    y = float(v[fv]) if seed_n == 1 else seed_mean(v[fv:seed_end])
    res[seed_end - 1] = y
    rest = v[seed_end:]
    if len(rest):
        # first-order IIR y_t = a*x_t + (1-a)*y_{t-1}, vectorized via the
        # pandas ewm C kernel on the seeded tail (~1e8 rows/s, BASELINE.md)
        tail = pd.Series(np.concatenate(([y], rest)))
        smoothed = tail.ewm(alpha=alpha, adjust=False).mean().to_numpy()
        res[seed_end:] = smoothed[1:]
    out.iloc[:] = res
    return out


def ema_pd(x: pd.Series, length: int) -> pd.Series:
    """EMA, alpha=2/(n+1), SMA-seeded (pandas_ta/overlap/ema.py#ema presma)."""
    return ewm_seeded(x, 2.0 / (length + 1), length)


def rma_pd(x: pd.Series, length: int) -> pd.Series:
    """Wilder MA, alpha=1/n (pandas_ta/overlap/rma.py#rma)."""
    return ewm_seeded(x, 1.0 / length, length)




# ---------------------------------------------------------------------------
# Rolling-primitive kernels (ROLL absorption, SURVEY.md §4.2): order-stat /
# frame-list window aggregates (median, MAD, argmax-distance) cost O(w) or
# O(w log w) PER ROW in JVM WindowExec — the dominant term of a multi-
# indicator strategy. Inside the already-paid Arrow kernel pass the same
# aggregates run vectorized at 40-100M rows/s, so the heavy ROLL ops
# compute here and keep their ANSI-SQL oracle twins unchanged.
# ---------------------------------------------------------------------------

# sliding_window_view materializes (rows x window) temporaries; block the
# computation so peak extra memory stays ~BLOCK*window*8B regardless of
# group size (the 20M-row kernel groups of SURVEY §4.3.4).
_SWV_BLOCK = 1_000_000


def _swv_apply(v: np.ndarray, window: int, fn) -> np.ndarray:
    """Apply fn(block_view) -> 1-D over sliding windows, blocked; output
    aligned to the window END (first window-1 slots NaN)."""
    n = len(v)
    out = np.full(n, np.nan)
    if n < window:
        return out
    swv = np.lib.stride_tricks.sliding_window_view
    for start in range(0, n - window + 1, _SWV_BLOCK):
        stop = min(start + _SWV_BLOCK, n - window + 1)
        block = swv(v[start:stop + window - 1], window)
        out[start + window - 1:stop + window - 1] = fn(block)
    return out


# mean/sum recompute per frame (swv) rather than pandas' online rolling
# accumulator: the online path's last-ulp output depends on where the
# series STARTS, which would break exact chunk-and-carry equality
# (plans/kernels.py assign_chunks) and run-to-run determinism under
# repartitioning. Per-frame recompute is start-point independent.
def roll_mean_pd(x: pd.Series, n: int) -> pd.Series:
    v = x.to_numpy(dtype="float64")
    return pd.Series(_swv_apply(v, n, lambda w: w.mean(axis=1)), index=x.index)


def roll_sum_pd(x: pd.Series, n: int) -> pd.Series:
    v = x.to_numpy(dtype="float64")
    return pd.Series(_swv_apply(v, n, lambda w: w.sum(axis=1)), index=x.index)


def roll_min_pd(x: pd.Series, n: int) -> pd.Series:
    return x.rolling(n, min_periods=n).min()


def roll_max_pd(x: pd.Series, n: int) -> pd.Series:
    return x.rolling(n, min_periods=n).max()


def roll_quantile_pd(x: pd.Series, n: int, q: float) -> pd.Series:
    """Linear-interpolated rolling quantile — same h=(n-1)q formula as
    Spark percentile() and DuckDB quantile_cont()."""
    return x.rolling(n, min_periods=n).quantile(q, interpolation="linear")


def roll_mad_pd(x: pd.Series, n: int) -> pd.Series:
    """Mean absolute deviation around the frame mean (the HOF-list
    aggregate of statistics/mad.py and momentum/cci.py)."""
    v = x.to_numpy(dtype="float64")
    mad = _swv_apply(v, n, lambda w: np.abs(w - w.mean(axis=1, keepdims=True)).mean(axis=1))
    return pd.Series(mad, index=x.index)


def dist_to_extreme_pd(x: pd.Series, window: int, is_max: bool) -> pd.Series:
    """Rows back to the latest max/min in the trailing `window`-row frame
    (latest tie wins — the reference's reversed argmax,
    utils/_core.py#recent_maximum_index; twin of windows.bars_since_extreme)."""
    v = x.to_numpy(dtype="float64")
    pick = np.argmax if is_max else np.argmin

    def fn(w):
        return pick(w[:, ::-1], axis=1).astype("float64")

    return pd.Series(_swv_apply(v, window, fn), index=x.index)


def roll_const_mask(x: pd.Series, n: int):
    """True where the trailing n-frame is EXACTLY constant (frame max ==
    frame min — order statistics, no FP summation). The dispersion
    kernels below pin such frames to their exact value (0 for central
    moments): the computed path's mean carries a last-ulp error, so a
    constant frame otherwise yields noise-squared instead of 0 — and the
    SQL engine's different noise (naive sum-of-squares cancellation at
    large offsets) disagrees by far more than the 1e-6 grid (fuzz gate,
    extreme profile). The SQL twins carry the same max=min guard."""
    import numpy as np

    mx = x.rolling(n, min_periods=n).max().to_numpy()
    mn = x.rolling(n, min_periods=n).min().to_numpy()
    with np.errstate(invalid="ignore"):
        return mx == mn


def roll_std_pd(x: pd.Series, n: int, ddof: int = 1) -> pd.Series:
    """Rolling std via per-frame two-pass numpy (exact frame recompute —
    same association as the engines' windowed stddev, no online drift).
    Constant frames emit exactly 0 (roll_const_mask rationale)."""
    v = x.to_numpy(dtype="float64")
    out = _swv_apply(v, n, lambda w: w.std(axis=1, ddof=ddof))
    out[roll_const_mask(x, n)] = 0.0
    return pd.Series(out, index=x.index)


def roll_var_pd(x: pd.Series, n: int, ddof: int = 1) -> pd.Series:
    v = x.to_numpy(dtype="float64")
    out = _swv_apply(v, n, lambda w: w.var(axis=1, ddof=ddof))
    out[roll_const_mask(x, n)] = 0.0
    return pd.Series(out, index=x.index)


def roll_cmom_pd(x: pd.Series, n: int, k: int) -> pd.Series:
    """Rolling k-th central moment mean((x - frame_mean)^k) — the HOF-list
    aggregate of statistics/skew.py and kurtosis.py. Constant frames
    emit exactly 0 (roll_const_mask rationale)."""
    v = x.to_numpy(dtype="float64")

    def fn(w):
        return ((w - w.mean(axis=1, keepdims=True)) ** k).mean(axis=1)

    out = _swv_apply(v, n, fn)
    out[roll_const_mask(x, n)] = 0.0
    return pd.Series(out, index=x.index)


def wroll_pd(x: pd.Series, weights: list[float], normalize: bool = True) -> pd.Series:
    """Elementwise twin of windows.wroll: left-associated
    0 + (w0/T)*x + (w1/T)*x.shift(1) + ... — identical float-op order, so
    results are bit-equal to the Catalyst lag-sum expression; shift-NaN
    poisoning reproduces the count>=n warmup mask for prefix-NaN series."""
    total = sum(weights) if normalize else 1.0
    acc = 0.0
    for i, w in enumerate(weights):
        term = x if i == 0 else x.shift(i)
        acc = acc + (w / total) * term
    return acc


EPS = 2.220446049250313e-16  # float64 machine eps (non_zero_range twin)


# --------------------------------------------------------------------------
# Sequential-association rolling primitives (r14 ROLL absorption): these
# replicate WindowExec's sliding-frame evaluation BIT-EXACTLY — Spark
# rebuilds the aggregate per row by iterating the frame's rows in order
# (SlidingWindowFunctionFrame + the aggregate's update expressions), so a
# left-to-right vector loop over the window axis produces the identical
# double at every row. Ops converted from window expressions to kernels
# keep their r13 values exactly (np.sum's pairwise association flipped
# 1e-6-grid ties on vwma/eom: 19/481 rows at sf0.01).
# --------------------------------------------------------------------------

def _swv_seq(v: np.ndarray, window: int, fn) -> np.ndarray:
    """Like _swv_apply but fn receives the (rows x window) block for a
    SEQUENTIAL (column-by-column) scan."""
    return _swv_apply(v, window, fn)


def roll_sum_seq_pd(x: pd.Series, n: int) -> pd.Series:
    """Rolling sum, frame summed left-to-right (Spark/DuckDB frame
    order). NaN poisons the frame — equivalent to the count>=n warmup
    mask whenever NULLs mark incomplete inputs."""
    v = x.to_numpy(dtype="float64")

    def fn(w):
        acc = w[:, 0].copy()
        for j in range(1, n):
            acc += w[:, j]
        return acc

    return pd.Series(_swv_seq(v, n, fn), index=x.index)


def roll_mean_seq_pd(x: pd.Series, n: int) -> pd.Series:
    """Rolling mean = sequential frame sum / n (Spark Average = sum /
    count evaluated after the sequential updates)."""
    v = x.to_numpy(dtype="float64")

    def fn(w):
        acc = w[:, 0].copy()
        for j in range(1, n):
            acc += w[:, j]
        return acc / n

    return pd.Series(_swv_seq(v, n, fn), index=x.index)


def _welford_frame(w, x_start, n):
    """Per-frame Welford state (Spark CentralMomentAgg/Covariance update
    order, element by element): returns (xAvg, yAvg, ck, xMk, yMk) where
    x is the global 1-based row position (x_start + j per column j) and
    y the frame values. Bit-exact twin of regr_slope/regr_intercept/
    corr over the sliding frame."""
    rows = w.shape[0]
    xAvg = np.zeros(rows)
    yAvg = np.zeros(rows)
    ck = np.zeros(rows)
    xMk = np.zeros(rows)
    yMk = np.zeros(rows)
    for j in range(n):
        k = float(j + 1)
        xj = x_start + j
        yj = w[:, j]
        dx = xj - xAvg
        dy = yj - yAvg
        xAvg = xAvg + dx / k
        yAvg = yAvg + dy / k
        ck = ck + dx * (yj - yAvg)
        xMk = xMk + dx * (xj - xAvg)
        yMk = yMk + dy * (yj - yAvg)
    return xAvg, yAvg, ck, xMk, yMk


def _ols_frames(v: np.ndarray, n: int, combine, x0: float = 0.0) -> np.ndarray:
    """Run the Welford twin over every sliding frame; ``combine`` maps
    (xAvg, yAvg, ck, xMk, yMk, x_end) -> output vector. x positions are
    the global 1-based row numbers (the SQL twins regress against
    row_number() OVER the symbol order). ``x0`` is the 0-based global
    position of v[0]: under epoch-chunked execution each chunk sees only
    a slice of the symbol's rows, and OLS rounding is shift-sensitive,
    so the chunk must regress against the same global x as the whole
    group (whole groups pass 0)."""
    m = len(v)
    out = np.full(m, np.nan)
    if m < n:
        return out
    swv = np.lib.stride_tricks.sliding_window_view
    for start in range(0, m - n + 1, _SWV_BLOCK):
        stop = min(start + _SWV_BLOCK, m - n + 1)
        block = swv(v[start:stop + n - 1], n)
        # frame f (0-based within block) covers global rows
        # [x0+start+f+1 .. x0+start+f+n] in 1-based row_number coordinates
        x_start = np.arange(x0 + start + 1.0, x0 + start + 1.0 + (stop - start))
        st = _welford_frame(block, x_start, n)
        out[start + n - 1:stop + n - 1] = combine(*st, x_start + n - 1)
    return out


def global_x0(pdf) -> float:
    """0-based global row position of a kernel frame's first row:
    _pts_rn0 under epoch-chunked execution (the runner hands kernels a
    ts-sorted frame, and _pts_rn0 is monotone in ts), 0.0 for whole
    groups. Shift-sensitive kernels (the OLS family) pass this as x0 so
    chunked x equals whole-group x bit-for-bit."""
    if "_pts_rn0" in pdf.columns:
        return float(pdf["_pts_rn0"].iat[0])
    return 0.0


def nzr_np(a, b):
    """numpy twin of momentum._nzr: a - b with exact zeros nudged to
    machine eps (same op order as the Column/SQL twins)."""
    d = a - b
    return d + np.where(d == 0, EPS, 0.0)


def div0_np(num, den):
    """num / den with zero denominators -> NaN (the engines' non-ANSI
    x/0 -> NULL; a NaN kernel output crosses Arrow as NULL)."""
    with np.errstate(all="ignore"):
        out = num / den
    return np.where(den == 0, np.nan, out)


def roll_ols_slope_pd(x: pd.Series, n: int, x0: float = 0.0) -> pd.Series:
    """Rolling regr_slope(y, row_number) — bit-exact Welford twin of the
    window expression (overlap.linreg mode 'slope')."""
    def combine(xAvg, yAvg, ck, xMk, yMk, x_end):
        with np.errstate(all="ignore"):
            slope = ck / xMk
        return np.where(xMk == 0, np.nan, slope)

    return pd.Series(_ols_frames(x.to_numpy(dtype="float64"), n, combine, x0),
                     index=x.index)


def roll_ols_fit_pd(x: pd.Series, n: int, at_offset: float,
                    x0: float = 0.0) -> pd.Series:
    """Rolling OLS fitted value regr_intercept + regr_slope * (rn +
    at_offset) — bit-exact Welford twin of the linreg/cfo window
    expressions. at_offset: 0 = endpoint (mode linreg / cfo), 1 = tsf,
    1 - n = frame-start intercept."""
    def combine(xAvg, yAvg, ck, xMk, yMk, x_end):
        with np.errstate(all="ignore"):
            slope = ck / xMk
            icpt = yAvg - slope * xAvg
            fit = icpt + slope * (x_end + at_offset)
        return np.where(xMk == 0, np.nan, fit)

    return pd.Series(_ols_frames(x.to_numpy(dtype="float64"), n, combine, x0),
                     index=x.index)


def roll_std_welford_pd(x: pd.Series, n: int, ddof: int = 1) -> pd.Series:
    """Rolling stddev via the per-frame Welford recursion — bit-exact
    twin of Spark's stddev_samp/pop window aggregate (CentralMomentAgg
    update order), for converted ops whose expression twin had NO
    constant-frame guard (xsignals' raw zscore signal). Constant frames
    give m2 == 0.0 exactly in the recursion, matching the engines."""
    v = x.to_numpy(dtype="float64")

    def fn(w):
        rows = w.shape[0]
        avg = np.zeros(rows)
        m2 = np.zeros(rows)
        for j in range(n):
            xj = w[:, j]
            delta = xj - avg
            avg = avg + delta / float(j + 1)
            m2 = m2 + delta * (xj - avg)
        return np.sqrt(m2 / (n - ddof))

    return pd.Series(_swv_apply(v, n, fn), index=x.index)


def roll_corr_idx_pd(x: pd.Series, n: int, x0: float = 0.0) -> pd.Series:
    """Rolling corr(y, row_number) — bit-exact Welford twin of the
    window expression (momentum.cti, linreg mode 'r'). Zero variance ->
    NaN (the engines' NULL on the zero denominator)."""
    def combine(xAvg, yAvg, ck, xMk, yMk, x_end):
        with np.errstate(all="ignore"):
            den = np.sqrt(xMk * yMk)
            r = ck / den
        return np.where(den == 0, np.nan, r)

    return pd.Series(_ols_frames(x.to_numpy(dtype="float64"), n, combine, x0),
                     index=x.index)


def linreg_end_pd(x: pd.Series, n: int) -> pd.Series:
    """Rolling OLS fitted value at the frame's last row (the reference's
    ``linear_regression`` smoother — pandas_ta/overlap/linreg.py#linreg,
    momentum/squeeze.py's mom smoothing). Closed-form least squares per
    frame over local x = 1..n; the fitted endpoint is parameterization-
    invariant, so it equals the SQL twin's regr_slope/regr_intercept over
    the global row_number. NaN until the frame holds n non-null values."""
    v = x.to_numpy(dtype="float64")
    xs = np.arange(1.0, n + 1)
    sx = xs.sum()
    den = n * (xs * xs).sum() - sx * sx

    def fn(w):
        sy = w.sum(axis=1)
        sxy = w @ xs
        slope = (n * sxy - sx * sy) / den
        icpt = (sy - slope * sx) / n
        return icpt + slope * n

    return pd.Series(_swv_apply(v, n, fn), index=x.index)



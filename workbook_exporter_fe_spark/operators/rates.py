"""Counter-semantics rates, sliding-window rollups, EWMA, rolling anomaly.

The reference generates monitoring configs for Prometheus-style exporters
(/root/reference/workbook_exporter-fe.py — every exporter block emits
scrape-target YAML); the canonical query over the metrics those targets
produce is `rate()`/`increase()` over cumulative counters with reset
detection, plus moving-window smoothing and outlier flagging. This module
supplies those semantics engine-side, over the same (source, event_ts, v)
tier-0 / (source, bucket_ts, v) tier-1 shapes as operators/tiers.py.

Scale design:
- Everything here is lag/lead windows partitioned by `source` (and by
  (source, segment) in the *_segmented variants, same two-level carry
  pattern as operators/gapfill.py) — no self-joins, no UDFs, whole-stage
  codegen throughout.
- `sliding_rollup_from_tier1` computes hopping windows by exploding
  TIER-1 rows (one row per minute per source) into the k windows each
  belongs to — fan-out happens on the small tier table, never on tier-0
  events. A native `F.window(ts, '5 minutes', '1 minute')` over raw
  events multiplies the SHUFFLE INPUT by k; this formulation multiplies
  only the already-aggregated rows (k× on a table that is orders of
  magnitude smaller), then re-combines decomposable aggregates.
- Rolling statistics use bounded trailing ROW frames (O(1) per row
  sliding evaluation in Spark), never unbounded-FOLLOWING frames
  (CLAUDE.md perf rule: those re-scan per row, O(n²)).
- EWMA is inherently sequential per series; it runs as one
  `applyInPandas` per source over pandas' C-implemented `ewm` kernel —
  tier tables are small per source (~525k buckets/source-year), the same
  stance as gapfill's per-source windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.operators.tiers import AGG_COLS, combine_partials


def counter_deltas(
    series: DataFrame,
    value_col: str = "v",
    key: str = "source",
    ts_col: str = "event_ts",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Per-sample counter increase with reset detection (PromQL semantics).

    A cumulative counter only grows; a drop means the process restarted and
    the counter restarted from 0, so the post-reset sample's whole value is
    its increase. First sample per key has NULL delta (no predecessor).

        delta = v - lag(v)         if v >= lag(v)
              = v                  if v <  lag(v)   (reset)

    ``tiebreak`` columns extend the ordering so duplicate timestamps get a
    deterministic predecessor (required for cross-engine parity).
    """
    w = Window.partitionBy(key).orderBy(ts_col, *(tiebreak or []))
    prev = F.lag(value_col).over(w)
    v = F.col(value_col)
    delta = F.when(prev.isNull(), F.lit(None).cast("double")).when(
        v >= prev, v - prev
    ).otherwise(v)
    return series.withColumn("delta", delta)


def rate(
    series: DataFrame,
    value_col: str = "v",
    key: str = "source",
    ts_col: str = "event_ts",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Per-sample rate: reset-adjusted delta / seconds since previous sample.

    Zero-interval pairs (duplicate timestamps) yield NULL rather than inf —
    the caller dedups or accepts the gap, matching how a scrape pipeline
    treats duplicate samples.
    """
    w = Window.partitionBy(key).orderBy(ts_col, *(tiebreak or []))
    # NTZ timestamps can't cast straight to double; hop through TIMESTAMP
    # (no-op for LTZ inputs, UTC-pinned sessions make it exact for NTZ).
    sec = F.col(ts_col).cast("timestamp").cast("double")
    dt = sec - F.lag(sec).over(w)
    out = counter_deltas(series, value_col, key, ts_col, tiebreak)
    return out.withColumn(
        "rate_ps",
        F.when(dt > 0, F.col("delta") / dt),
    )


def increase_tier1(
    series: DataFrame,
    value_col: str = "v",
    key: str = "source",
    ts_col: str = "event_ts",
    tier: str = "minute",
) -> DataFrame:
    """Counter increase per (key, bucket): sum of reset-adjusted deltas.

    Each delta is attributed to the bucket of the LATER sample (the moment
    the increase was observed). Unlike raw `max(v) - min(v)` per bucket,
    this is exact across resets and across bucket boundaries, and the
    per-bucket sums are decomposable — coarser tiers re-sum this tier.
    """
    d = counter_deltas(series, value_col, key, ts_col)
    bucket = F.date_trunc(tier, F.col(ts_col)).alias("bucket_ts")
    return (
        d.filter(F.col("delta").isNotNull())
        .groupBy(F.col(key), bucket)
        .agg(F.sum("delta").alias("increase"), F.count("*").alias("n_samples"))
    )


def sliding_rollup_from_tier1(
    t1: DataFrame,
    window_minutes: int = 5,
    slide_minutes: int = 1,
    key: str = "source",
) -> DataFrame:
    """Hopping-window rollup derived from tier-1, not from raw events.

    A (window=W, slide=S) hopping aggregate assigns every point to W/S
    overlapping windows. Doing that on tier-0 multiplies the shuffle by
    W/S; this operator explodes each TIER-1 row (already one row per
    (source, minute)) into the windows containing it and re-combines the
    decomposable aggregates — the k× fan-out lands on a table that is
    orders of magnitude smaller than tier-0, and the result is identical
    because sum/min/max/cnt compose.

    Windows are emitted only when aligned to the slide grid and are
    labelled by their START; avg is re-finalized from sums, never averaged
    across buckets. Requires W % S == 0 and tier-1 bucket == 1 minute.
    """
    if window_minutes % slide_minutes:
        raise ValueError("window must be a multiple of slide")
    k = window_minutes // slide_minutes
    step = slide_minutes * 60
    # window starts containing bucket b: {floor(b/S)*S - i*S : i in 0..k-1},
    # kept only when b < start + W (always true by construction).
    starts = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.timestamp_seconds(
            (F.floor(F.unix_timestamp(F.col("bucket_ts").cast("timestamp")) / step)
             - i) * step
        ),
    )
    exploded = t1.select(
        F.col(key),
        F.explode(starts).alias("win_start"),
        *AGG_COLS,
    )
    win_end = F.col("win_start") + F.expr(f"interval {window_minutes} minutes")
    return combine_partials(exploded.groupBy(key, "win_start")).select(
        key, "win_start", *AGG_COLS, win_end.alias("win_end"), "avg_v"
    )


def rolling_stats(
    t1: DataFrame,
    value_col: str = "avg_v",
    key: str = "source",
    ts_col: str = "bucket_ts",
    n: int = 30,
) -> DataFrame:
    """Trailing-window mean/std over the previous n buckets (excluding the
    current row, so a spike never masks itself). Bounded ROW frame →
    Spark's O(1)-per-row sliding window evaluation."""
    w = Window.partitionBy(key).orderBy(ts_col).rowsBetween(-n, -1)
    return t1.withColumn("roll_mean", F.avg(value_col).over(w)).withColumn(
        "roll_std", F.stddev_samp(value_col).over(w)
    ).withColumn("roll_n", F.count(value_col).over(w))


def anomaly_zscore(
    t1: DataFrame,
    value_col: str = "avg_v",
    key: str = "source",
    ts_col: str = "bucket_ts",
    n: int = 30,
    threshold: float = 3.0,
    min_points: int = 5,
) -> DataFrame:
    """Rolling z-score outlier flag: |v - mean_n| > threshold * std_n.

    Rows with fewer than `min_points` trailing observations or ~zero std
    are never flagged (cold start / constant series)."""
    s = rolling_stats(t1, value_col, key, ts_col, n)
    z = (F.col(value_col) - F.col("roll_mean")) / F.col("roll_std")
    ok = (F.col("roll_n") >= min_points) & (F.col("roll_std") > 1e-12)
    return s.withColumn("zscore", F.when(ok, z)).withColumn(
        "is_anomaly", F.coalesce(F.abs(F.col("zscore")) > threshold, F.lit(False))
    )


def ewma(
    t1: DataFrame,
    alpha: float,
    value_col: str = "avg_v",
    key: str = "source",
    ts_col: str = "bucket_ts",
) -> DataFrame:
    """Exponentially weighted moving average per series (adjust=False):

        s_0 = v_0;  s_t = alpha * v_t + (1 - alpha) * s_{t-1}

    Inherently sequential per key, so it runs as `applyInPandas` per
    source over pandas' C `ewm` kernel (vectorized, no per-row Python).
    NULL values propagate the previous smoothed value (pandas
    ignore-na=False semantics on a series with gaps already densified
    upstream)."""
    import pandas as pd

    schema = t1.withColumn("ewma", F.lit(0.0).cast("double")).schema

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col, kind="mergesort")
        pdf["ewma"] = pdf[value_col].ewm(alpha=alpha, adjust=False).mean()
        return pdf

    return t1.groupBy(key).applyInPandas(smooth, schema=schema)


def ewma_expr(
    t1: DataFrame,
    alpha: float,
    value_col: str = "avg_v",
    key: str = "source",
    ts_col: str = "bucket_ts",
) -> DataFrame:
    """EWMA as pure Column expressions (no Python workers), for moderate
    window depths: expand the recurrence to the weighted running sum

        s_t = (1-a)^t * v_0 + a * sum_{i=1..t} (1-a)^(t-i) * v_i.

    Computed as a * running_sum(v_i / (1-a)^i) * (1-a)^t (+ the v_0 term).
    (1-a)^-i grows without bound, so the closed form is numerically valid
    only while (1-a)^-t stays inside double range — this variant is for
    SHORT series and GUARDS the boundary: any series longer than the
    alpha-dependent safe depth raises at execution time (conditional
    ``raise_error``, still whole-stage codegen on the happy path) instead
    of silently emitting inf/NaN. For long series use ``ewma``
    (applyInPandas recurrence, depth-unbounded). Cross-checked against
    ``ewma`` in tests, including the guard path.
    """
    import math

    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    w = Window.partitionBy(key).orderBy(ts_col)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    t = F.row_number().over(w) - 1  # 0-based position
    beta = 1.0 - alpha
    if beta == 0.0:
        return t1.withColumn("ewma", F.col(value_col).cast("double"))
    # beta^-t must stay well inside double range (e^708); 650 leaves
    # headroom for |v| up to ~1e25 inside the running sum
    safe_t = int(650.0 / -math.log(beta))
    # weighted running sum of v_i * beta^{-i}, then scale by beta^t
    wsum = F.sum(F.col(value_col) * F.pow(F.lit(beta), -t)).over(run)
    first = F.first(value_col).over(run)
    s = F.pow(F.lit(beta), t) * (
        F.lit(alpha) * (wsum - first) + first
    )
    guarded = F.when(
        t >= safe_t,
        F.raise_error(
            F.lit(
                f"ewma_expr: series deeper than {safe_t} rows exceeds the "
                f"closed form's double range at alpha={alpha}; use ewma() "
                "(applyInPandas) for long series"
            )
        ).cast("double"),
    ).otherwise(s)
    return t1.withColumn("ewma", guarded)


def linear_fit(
    t1: DataFrame,
    value_col: str = "avg_v",
    key: str = "source",
    ts_col: str = "bucket_ts",
    n: int = 30,
    scale: int | None = None,
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Per-row least-squares slope/intercept over the trailing n buckets
    (inclusive) — the PromQL deriv() building block.

    slope = (k·Σty − Σt·Σy) / (k·Σt² − (Σt)²) over the frame's k points;
    intercept at the current bucket's timestamp. All five frame sums ride
    ONE bounded ROW frame (Spark evaluates them in a single Window pass),
    whole-stage codegen, no UDFs. Degenerate frames (k < 2 or zero time
    variance) yield NULL slope. ``tiebreak`` columns pin the frame order
    when timestamps tie (mandatory for event-grain inputs).

    Numerical note: raw epoch seconds (~1.7e9) make k·Σt² − (Σt)² a
    difference of ~1e21-magnitude operands whose true value is only
    ~k²·var(t) (~1e7 for minute buckets) — complete double cancellation.
    Time is therefore centered per key (t − min(t) over the partition,
    one extra O(n) window) before the sums; the slope and the evaluated
    fit are shift-invariant.

    ``scale`` switches to the ENGINE-PORTABLE EXACT mode for values with a
    known decimal scale (the `_isum` rule, CLAUDE.md): y is int64-scaled
    by ``scale``, time floors to whole epoch seconds, all five frame sums
    and both cross products are exact int64, and the only float ops are
    the final divisions/affine evaluation — a fixed IEEE op sequence any
    engine reproduces bit-for-bit, which is what lets deriv/predict be
    value-hash-checked against a DuckDB oracle in the driver gate."""
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak]]
    w = Window.partitionBy(key).orderBy(*order).rowsBetween(-(n - 1), 0)
    wkey = Window.partitionBy(key)
    if scale is None:
        raw_t = F.col(ts_col).cast("timestamp").cast("double")
        t = raw_t - F.min(raw_t).over(wkey)
        y = F.col(value_col)
        k = F.count(y).over(w).cast("double")
        st = F.sum(t).over(w)
        sy = F.sum(y).over(w)
        sty = F.sum(t * y).over(w)
        stt = F.sum(t * t).over(w)
        denom = k * stt - st * st
        slope = F.when((k >= 2) & (denom > 0), (k * sty - st * sy) / denom)
        intercept = (sy - slope * st) / k
        return t1.withColumn("slope_per_sec", slope).withColumn(
            "fit_at_now", intercept + slope * t
        )
    raw_t = F.col(ts_col).cast("timestamp").cast("long")  # floor to seconds
    t = raw_t - F.min(raw_t).over(wkey)
    x = F.round(F.col(value_col) * scale).cast("long")
    k = F.count(x).over(w)  # long
    st = F.sum(t).over(w)
    sx = F.sum(x).over(w)
    stx = F.sum(t * x).over(w)
    stt = F.sum(t * t).over(w)
    den = k * stt - st * st  # exact int64 for day..month spans
    num = k * stx - st * sx
    slope_x = F.when(
        (k >= 2) & (den > 0), num.cast("double") / den.cast("double")
    )
    fit_x = (
        (sx.cast("double") - slope_x * st.cast("double")) / k.cast("double")
        + slope_x * t.cast("double")
    )
    return t1.withColumn(
        "slope_per_sec", slope_x / F.lit(float(scale))
    ).withColumn("fit_at_now", fit_x / F.lit(float(scale)))


def predict_linear(
    t1: DataFrame,
    horizon_seconds: float,
    value_col: str = "avg_v",
    key: str = "source",
    ts_col: str = "bucket_ts",
    n: int = 30,
    scale: int | None = None,
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """PromQL predict_linear(): extrapolate each series ``horizon_seconds``
    ahead from the trailing-window least-squares fit. The canonical
    capacity-planning query ("disk full in 4h?") over tier tables."""
    fit = linear_fit(t1, value_col, key, ts_col, n, scale=scale, tiebreak=tiebreak)
    return fit.withColumn(
        "predicted",
        F.col("fit_at_now") + F.col("slope_per_sec") * F.lit(float(horizon_seconds)),
    )


def holt_winters(
    t1: DataFrame,
    alpha: float,
    beta: float,
    value_col: str = "avg_v",
    key: str = "source",
    ts_col: str = "bucket_ts",
) -> DataFrame:
    """PromQL-style holt_winters(): double exponential smoothing with a
    trend term per series (no seasonality, matching PromQL):

        l_0 = v_0;                 b_0 = v_1 - v_0 (set at t=1)
        l_t = a·v_t + (1-a)·(l_{t-1} + b_{t-1})
        b_t = b·(l_t - l_{t-1}) + (1-b)·b_{t-1}

    Sequential per key like `ewma`; runs as one applyInPandas per source
    with the recurrence in a numpy loop over the already-sorted values
    (tier tables are small per source — same stance as gapfill). Adds
    `hw_level` and `hw_trend` columns; rows 0/1 seed the state
    (hw_level = v, hw_trend = 0 then the first difference)."""
    import numpy as np
    import pandas as pd

    schema = (
        t1.withColumn("hw_level", F.lit(0.0).cast("double"))
        .withColumn("hw_trend", F.lit(0.0).cast("double"))
        .schema
    )

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col, kind="mergesort").reset_index(drop=True)
        v = pdf[value_col].to_numpy(dtype=float)
        n = len(v)
        level = np.empty(n)
        trend = np.empty(n)
        if n:
            level[0], trend[0] = v[0], 0.0
        if n > 1:
            trend[1] = v[1] - v[0]
            level[1] = alpha * v[1] + (1 - alpha) * (level[0] + trend[1])
            for i in range(2, n):
                level[i] = alpha * v[i] + (1 - alpha) * (level[i - 1] + trend[i - 1])
                trend[i] = beta * (level[i] - level[i - 1]) + (1 - beta) * trend[i - 1]
        pdf["hw_level"] = level
        pdf["hw_trend"] = trend
        return pdf

    return t1.groupBy(key).applyInPandas(smooth, schema=schema)


def series_analytics(
    df: DataFrame,
    value_col: str = "v",
    key: str = "source",
    ts_col: str = "event_ts",
    tiebreak: tuple[str, ...] = ("event_id",),
    scale: int = 100,
    anomaly_n: int = 30,
    anomaly_threshold: float = 3.0,
    anomaly_min_points: int = 5,
    fit_n: int = 20,
    horizon_seconds: float = 3600.0,
    shift_n: int = 10,
    shift_threshold: float = 5.0,
    corr_n: int | None = None,
) -> DataFrame:
    """All per-series sliding analytics fused into ONE ordered window pass.

    Computes, per (key, ts, tiebreak)-ordered series, the same columns as
    the composed chain rate() → linear_fit()/predict_linear() → rolling
    z-score anomaly → mean_shift_changepoints() → rolling_corr(value,
    elapsed-time) — bit-identically (pinned by test) — but in TWO Window
    operators instead of ~15:

    - pass 1 (same partitioning+sort): min(epoch_seconds) over the whole
      partition, to center time per key (the cancellation fix documented
      on linear_fit). A window aggregate cannot consume another window
      aggregate's output inside one operator, so the centered clock needs
      its own pass; it rides the SAME sort (unbounded frame over the
      ordered spec), so no extra Exchange or Sort.
    - pass 2: every remaining analytic. Spark's WindowExec hosts any
      number of frames for one (partitionSpec, orderSpec) — the two lag()
      offsets, the trailing anomaly frame (-anomaly_n, -1), the fit/corr
      frame (-(fit_n-1), 0), and the two mean-shift frames (-shift_n, -1)
      / (0, shift_n-1) all evaluate in ONE buffered pass over each
      partition.

    Why this exists: each composed operator adds its own Window node, and
    interleaved projections/specs block Catalyst's CollapseWindow, so the
    chain executes ~15 buffered window passes over every series. Measured
    at sf0.1 (100k events): chain ≈ 4.9 s, fused ≈ the single-pass floor
    (each extra Window exec re-buffers every partition; see
    BENCH/BASELINE.md). Per-100 TB this is the difference between 2 and
    ~15 full passes over the event grain after the one shuffle.

    The correlation is Pearson r between the value and the elapsed
    per-key clock (trend strength), over ``corr_n`` rows — defaults to
    ``fit_n`` so it shares the fit frame's five sums and adds only
    sum(x²). Exactness rules are inherited verbatim from the composed
    operators (int64-scaled sums, division-free anomaly/shift tests,
    fixed IEEE tail ops) so results stay engine-portable.
    """
    thr2 = round(anomaly_threshold * anomaly_threshold)
    if abs(anomaly_threshold * anomaly_threshold - thr2) > 1e-12:
        raise ValueError(
            "series_analytics needs an integral anomaly_threshold² for the "
            "division-free exact test; use anomaly_zscore() otherwise"
        )
    if corr_n is None:
        corr_n = fit_n
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak]]
    wo = Window.partitionBy(key).orderBy(*order)
    # pass 1: per-key centered clock (whole-partition min on the SAME
    # ordered spec: no new exchange/sort, just one extra window pass)
    tsec = F.col(ts_col).cast("timestamp").cast("long")
    wall = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    d = df.withColumn(
        "_sa_x", F.round(F.col(value_col) * scale).cast("long")
    ).withColumn("_sa_t", tsec - F.min(tsec).over(wall))
    # pass 2: every frame aggregate in one WindowExec
    x, t = F.col("_sa_x"), F.col("_sa_t")
    wf_anom = wo.rowsBetween(-anomaly_n, -1)
    wf_fit = wo.rowsBetween(-(fit_n - 1), 0)
    wf_l = wo.rowsBetween(-shift_n, -1)
    wf_r = wo.rowsBetween(0, shift_n - 1)
    sec = F.col(ts_col).cast("timestamp").cast("double")
    v = F.col(value_col)
    cols = {
        "_pv": F.lag(value_col).over(wo),
        "_psec": F.lag(sec).over(wo),
        "_s1": F.sum(x).over(wf_anom),
        "_s2": F.sum(x * x).over(wf_anom),
        "roll_n": F.count(x).over(wf_anom),
        "_k": F.count(x).over(wf_fit),
        "_st": F.sum(t).over(wf_fit),
        "_sx": F.sum(x).over(wf_fit),
        "_stx": F.sum(t * x).over(wf_fit),
        "_stt": F.sum(t * t).over(wf_fit),
        "_sl": F.sum(x).over(wf_l),
        "_nl": F.count(x).over(wf_l),
        "_sr": F.sum(x).over(wf_r),
        "_nr": F.count(x).over(wf_r),
    }
    if corr_n == fit_n:
        cols["_sxx"] = F.sum(x * x).over(wf_fit)
        ck, csx, csy = F.col("_k"), F.col("_st"), F.col("_sx")
        csxx, csyy, csxy = F.col("_stt"), F.col("_sxx"), F.col("_stx")
    else:
        wf_c = wo.rowsBetween(-(corr_n - 1), 0)
        cols.update(
            _ck=F.count(x).over(wf_c),
            _cst=F.sum(t).over(wf_c),
            _csx=F.sum(x).over(wf_c),
            _cstx=F.sum(t * x).over(wf_c),
            _cstt=F.sum(t * t).over(wf_c),
            _sxx=F.sum(x * x).over(wf_c),
        )
        ck, csx, csy = F.col("_ck"), F.col("_cst"), F.col("_csx")
        csxx, csyy, csxy = F.col("_cstt"), F.col("_sxx"), F.col("_cstx")
    d = d.select("*", *[c.alias(n) for n, c in cols.items()])
    # final pure projections (verbatim formulas from the composed ops, so
    # the IEEE op sequences — and thus the hashes — are identical)
    pv = F.col("_pv")
    delta = (
        F.when(pv.isNull(), F.lit(None).cast("double"))
        .when(v >= pv, v - pv)
        .otherwise(v)
    )
    dt = sec - F.col("_psec")
    n_, s1, s2 = F.col("roll_n"), F.col("_s1"), F.col("_s2")
    dev = n_ * x - s1
    var_num = n_ * s2 - s1 * s1
    anom = (
        (n_ >= anomaly_min_points)
        & (var_num > 0)
        & (dev * dev * (n_ - 1) > thr2 * n_ * var_num)
    )
    k, st, sx = F.col("_k"), F.col("_st"), F.col("_sx")
    stx, stt = F.col("_stx"), F.col("_stt")
    den = k * stt - st * st
    num = k * stx - st * sx
    slope_x = F.when((k >= 2) & (den > 0), num.cast("double") / den.cast("double"))
    fit_x = (
        (sx.cast("double") - slope_x * st.cast("double")) / k.cast("double")
        + slope_x * t.cast("double")
    )
    diff = F.col("_sr") - F.col("_sl")
    full = (F.col("_nl") == shift_n) & (F.col("_nr") == shift_n)
    thr_shift = int(round(shift_n * shift_threshold * scale))
    cnum = ck * csxy - csx * csy
    cvx = ck * csxx - csx * csx
    cvy = ck * csyy - csy * csy
    corr = cnum.cast("double") / F.sqrt(cvx.cast("double") * cvy.cast("double"))
    corr_ok = (ck >= 2) & (cvx > 0) & (cvy > 0)
    slope = slope_x / F.lit(float(scale))
    return (
        d.withColumn("delta", delta)
        .withColumn("rate_ps", F.when(dt > 0, F.col("delta") / dt))
        .withColumn("is_anomaly", F.coalesce(anom, F.lit(False)))
        .withColumn("slope_per_sec", slope)
        .withColumn("fit_at_now", fit_x / F.lit(float(scale)))
        .withColumn(
            "predicted",
            F.col("fit_at_now")
            + F.col("slope_per_sec") * F.lit(float(horizon_seconds)),
        )
        .withColumn("shift_n", F.col("_nl"))
        .withColumn(
            "shift", F.when(full, F.round(diff / float(shift_n * scale), 6))
        )
        .withColumn(
            "is_shift", F.coalesce(full & (F.abs(diff) > thr_shift), F.lit(False))
        )
        .withColumn("corr_n", ck)
        .withColumn("corr_xy", F.when(corr_ok, F.round(corr, 6)))
        .drop(
            "_sa_x", "_sa_t", "_pv", "_psec", "_s1", "_s2", "_k", "_st",
            "_sx", "_stx", "_stt", "_sl", "_nl", "_sr", "_nr", "_sxx",
            "_ck", "_cst", "_csx", "_cstx", "_cstt",
        )
    )


def mean_shift_changepoints(
    df: DataFrame,
    value_col: str = "v",
    key: str = "source",
    order_cols: tuple[str, ...] = ("event_ts", "event_id"),
    n: int = 10,
    threshold: float = 5.0,
    scale: int = 100,
) -> DataFrame:
    """Two-sided sliding mean-shift changepoint detector.

    At every row, compare the mean of the trailing n rows (EXCLUDING the
    current row) with the mean of the current+next n-1 rows; flag a
    changepoint when both windows are full and the shift exceeds
    ``threshold``. CUSUM's recurrence (max(0, c+x)) is not expressible as
    a window function; the two-sided mean-shift scan is the standard
    window-algebra changepoint detector with the same detection target
    (level shifts) and O(1)-per-row bounded ROW frames.

    Cross-engine exactness: values are int64-scaled (×scale) and the flag
    is division-free — |SR − SL| > n·threshold·scale over exact integer
    window sums, so no float accumulation order is involved; the reported
    ``shift`` magnitude is one exact-int subtraction then one IEEE divide.

    Adds: ``shift_n`` (left-window row count), ``shift`` (mean right −
    mean left, null unless both windows full), ``is_shift``.
    """
    x = F.round(F.col(value_col) * scale).cast("long")
    wl = (
        Window.partitionBy(key).orderBy(*order_cols).rowsBetween(-n, -1)
    )
    wr = Window.partitionBy(key).orderBy(*order_cols).rowsBetween(0, n - 1)
    d = (
        df.withColumn("_ms_x", x)
        .withColumn("_ms_sl", F.sum("_ms_x").over(wl))
        .withColumn("_ms_nl", F.count("_ms_x").over(wl))
        .withColumn("_ms_sr", F.sum("_ms_x").over(wr))
        .withColumn("_ms_nr", F.count("_ms_x").over(wr))
    )
    full = (F.col("_ms_nl") == n) & (F.col("_ms_nr") == n)
    diff = F.col("_ms_sr") - F.col("_ms_sl")
    thr = int(round(n * threshold * scale))
    return (
        d.withColumn("shift_n", F.col("_ms_nl"))
        .withColumn(
            "shift",
            F.when(full, F.round(diff / float(n * scale), 6)),
        )
        .withColumn(
            "is_shift", F.coalesce(full & (F.abs(diff) > thr), F.lit(False))
        )
        .drop("_ms_x", "_ms_sl", "_ms_nl", "_ms_sr", "_ms_nr")
    )


def rolling_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    key: str = "source",
    order_cols: tuple[str, ...] = ("event_ts", "event_id"),
    n: int = 20,
    x_scale: int = 100,
    y_scale: int = 1,
) -> DataFrame:
    """Trailing-window Pearson correlation between two int64-scalable
    columns (adds ``corr_n`` and ``corr_xy``).

    Exactness: the five window sums are exact int64 on scaled values; the
    final corr = num / sqrt(vx · vy) is a FIXED chain of IEEE ops
    (convert, multiply, sqrt, divide — each correctly rounded), so the
    rounded result is bit-identical across engines given identical sums.
    Null when either variance is 0 or the window has < 2 rows. Scale
    factors cancel in Pearson r, so they only need to make the inputs
    integers, not match between x and y."""
    xs = F.round(F.col(x_col) * x_scale).cast("long")
    ys = F.round(F.col(y_col) * y_scale).cast("long")
    w = Window.partitionBy(key).orderBy(*order_cols).rowsBetween(-(n - 1), 0)
    d = (
        df.withColumn("_rc_x", xs)
        .withColumn("_rc_y", ys)
        .withColumn("_rc_n", F.count("_rc_x").over(w))
        .withColumn("_rc_sx", F.sum("_rc_x").over(w))
        .withColumn("_rc_sy", F.sum("_rc_y").over(w))
        .withColumn("_rc_sxx", F.sum(F.col("_rc_x") * F.col("_rc_x")).over(w))
        .withColumn("_rc_syy", F.sum(F.col("_rc_y") * F.col("_rc_y")).over(w))
        .withColumn("_rc_sxy", F.sum(F.col("_rc_x") * F.col("_rc_y")).over(w))
    )
    k = F.col("_rc_n")
    num = k * F.col("_rc_sxy") - F.col("_rc_sx") * F.col("_rc_sy")
    vx = k * F.col("_rc_sxx") - F.col("_rc_sx") * F.col("_rc_sx")
    vy = k * F.col("_rc_syy") - F.col("_rc_sy") * F.col("_rc_sy")
    r = num.cast("double") / F.sqrt(vx.cast("double") * vy.cast("double"))
    ok = (k >= 2) & (vx > 0) & (vy > 0)
    return (
        d.withColumn("corr_n", k)
        .withColumn("corr_xy", F.when(ok, F.round(r, 6)))
        .drop(
            "_rc_x", "_rc_y", "_rc_n", "_rc_sx", "_rc_sy",
            "_rc_sxx", "_rc_syy", "_rc_sxy",
        )
    )

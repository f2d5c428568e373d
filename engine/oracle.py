"""Single-machine pandas/NumPy twin of the engine (SURVEY.md §5.1), and
the home of the pinned per-series spec.

This module is the independent implementation of the pinned semantics
(SURVEY.md §2.1 + §2.1a amendment): tests run the production path (the
fused 1m kernel, engine/fused.py, and the cascade, engine/rollup.py) and
THIS code on the same input and assert per-row equality (the
BASELINE.json:15 "token-array equality" gate, tests/test_parity.py).
Dependency-light on purpose: pandas + numpy only, no pyspark import.

G1 GAP-FILL (engine convention per SURVEY.md §1.2; the empty reference
mount has no opinion — SURVEY.md §0.1):

  - a "gap" is a NULL slot inside ``tokens``; ``n_tok`` is the full logical
    length and ``len(tokens) == n_tok`` (validated at scan, S1).
  - policy ``ffill`` (default): v[t] := last non-null v at position <= t;
    leading nulls stay null.
  - policy ``zero``: v[t] := 0 where null.
  - policy ``linear``: interior nulls linearly interpolated IN EXACT INTEGER
    ARITHMETIC with floor rounding:
        fill(t) = floor((prev_v*(next_t - t) + next_v*(t - prev_t))
                        / (next_t - prev_t))
    leading nulls stay null, trailing nulls forward-fill. Integer floor
    keeps the token domain int32 and makes the engine and this oracle
    bit-identical (no float interpolation drift).

  Every policy leaves nulls only as a per-doc PREFIX.

R1-R4 ROLLING STATS + DETECT (SURVEY.md §2.1):

    ma[i] = NULL                    if fewer than w non-null values in the
                                    trailing w-slot window (pandas
                                    rolling(w, min_periods=w).mean())
          = mean(v[i-w+1 .. i])     otherwise (trailing, not centered)
    sd[i] = same mask, std(..., ddof=1)  (sample std)
    score[i] = NULL                 if sd[i] NULL or sd[i] == 0 or v[i] NULL
             = |v[i] - ma[i]| / sd[i]
    is_anom[i] = score[i] > k       (strict >; NULL score -> false)
    detect(series) = sorted [t where is_anom[t]]

  w must be >= 2 (a sample std needs two points).

  BIT-EXACTNESS: sd is not a library std. Spark's stddev_samp is a
  Welford/central-moment recurrence and pandas' rolling .std() a
  sliding-sum kernel; the two drift by tens of ulps. Both the engine and
  this oracle compute the closed form over EXACT integer window sums:

      num = w * sum(v^2) - sum(v)^2        # exact integer, >= 0
      sd  = sqrt(double(num) / (w*(w-1)))  # identical 3-op float sequence
      ma  = double(sum(v)) / w

  Every float op is correctly rounded and executed in the same order on
  both sides, so results are bit-identical — and more accurate than either
  library kernel (<= 2 roundings + sqrt vs accumulated streaming error).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from engine.schema import (
    DEFAULT_K,
    DEFAULT_WINDOW,
    EPOCH0_EPOCH_SECONDS,
    TIER_SECONDS,
)

# ---------------------------------------------------------------------------
# G1 gap-fill
# ---------------------------------------------------------------------------


def gap_fill_series(tokens: list, policy: str = "ffill") -> list:
    """Pinned G1 gap-fill over one token array (None = gap). Returns a list
    of int-or-None of the same length (module docstring is the spec)."""
    n = len(tokens)
    if policy == "zero":
        return [0 if v is None else int(v) for v in tokens]
    if policy == "ffill":
        out, prev = [], None
        for v in tokens:
            if v is not None:
                prev = int(v)
            out.append(prev)
        return out
    if policy == "linear":
        out: list = list(tokens)
        known = [i for i, v in enumerate(tokens) if v is not None]
        if not known:
            return [None] * n
        for i in range(n):
            if tokens[i] is not None:
                out[i] = int(tokens[i])
                continue
            prevs = [j for j in known if j < i]
            nexts = [j for j in known if j > i]
            if not prevs:
                out[i] = None  # leading gap stays null
            elif not nexts:
                out[i] = int(tokens[prevs[-1]])  # trailing gap ffills
            else:
                p, q = prevs[-1], nexts[0]
                pv, qv = int(tokens[p]), int(tokens[q])
                # exact integer floor interpolation
                num = pv * (q - i) + qv * (i - p)
                out[i] = num // (q - p)
        return out
    raise ValueError(f"unknown policy {policy}")


# ---------------------------------------------------------------------------
# R1-R4 rolling stats + detect
# ---------------------------------------------------------------------------


def rolling_stats_series(
    filled: list, w: int = DEFAULT_WINDOW, k: float = DEFAULT_K
) -> pd.DataFrame:
    """Per-point stats for one (gap-filled) series.

    Returns DataFrame(t, v, ma, sd, score, is_anom) with NaN for NULL.
    Semantics are pandas rolling(w, min_periods=w).mean()/.std(ddof=1) on a
    trailing window including the current point — but computed over EXACT
    integer window sums (Python bigints) with the identical 3-op float
    sequence the engine uses (module docstring), so the parity gate can
    assert bit-equality. test_oracle_matches_pandas_rolling pins
    this implementation to the pandas kernels within float tolerance.
    """
    n = len(filled)
    ma = np.full(n, np.nan)
    sd = np.full(n, np.nan)
    score = np.full(n, np.nan)
    is_anom = np.zeros(n, dtype=bool)
    den = float(w * (w - 1))
    for i in range(w - 1, n):
        window = filled[i - w + 1 : i + 1]
        if any(x is None for x in window):
            continue
        s1 = sum(window)  # exact (Python int)
        s2 = sum(x * x for x in window)
        ma[i] = float(s1) / float(w)
        num = w * s2 - s1 * s1  # exact, >= 0 by Cauchy-Schwarz
        sd[i] = np.sqrt(float(num) / den)
        if sd[i] != 0 and filled[i] is not None:
            score[i] = abs(float(filled[i]) - ma[i]) / sd[i]
            is_anom[i] = score[i] > k
    return pd.DataFrame(
        {
            "t": np.arange(n, dtype=np.int64),
            "v": pd.Series([np.nan if v is None else float(v) for v in filled]),
            "ma": ma,
            "sd": sd,
            "score": score,
            "is_anom": is_anom,
        }
    )


# ---------------------------------------------------------------------------
# A1/A2 rollup + cascade
# ---------------------------------------------------------------------------


def rollup_series(doc_id: str, stats: pd.DataFrame, tier: str = "1m") -> pd.DataFrame:
    """A1 twin over one doc's stats frame (from rolling_stats_series)."""
    b = TIER_SECONDS[tier]
    df = stats.copy()
    df["bucket"] = df["t"] // b
    rows = []
    for bucket, g in df.groupby("bucket", sort=True):
        vv = g["v"].dropna()
        cnt = int(vv.size)
        nn = g[g["v"].notna()]
        rows.append(
            {
                "doc_id": doc_id,
                "bucket": int(bucket),
                "bucket_ts": pd.Timestamp(
                    (EPOCH0_EPOCH_SECONDS + int(bucket) * b) * 10**9, tz="UTC"
                ),
                "cnt": cnt,
                "vmin": int(vv.min()) if cnt else None,
                "vmax": int(vv.max()) if cnt else None,
                "vsum": int(vv.sum()) if cnt else None,
                "vmean": float(vv.sum()) / cnt if cnt else None,
                "anom_cnt": int(g["is_anom"].sum()),
                "first_v": int(nn.iloc[0]["v"]) if cnt else None,
                "last_v": int(nn.iloc[-1]["v"]) if cnt else None,
            }
        )
    out = pd.DataFrame(rows)
    # a frame whose every bucket is empty infers OBJECT dtype for the
    # all-None value columns; coerce those (and only those) to the float64
    # the mixed case infers, so the later pd.concat never sees an all-NA
    # object column (pandas deprecated letting such entries participate in
    # result-dtype inference — the 55ca3c7 treatment, last remaining site)
    if len(out):
        for c in ("vmin", "vmax", "vsum", "vmean", "first_v", "last_v"):
            if out[c].isna().all():
                out[c] = out[c].astype("float64")
    return out


def cascade_oracle(fine: pd.DataFrame, fine_tier: str, coarse_tier: str) -> pd.DataFrame:
    """A2 twin: re-aggregate a fine rollup frame into the coarser tier."""
    bf, bc = TIER_SECONDS[fine_tier], TIER_SECONDS[coarse_tier]
    ratio = bc // bf
    df = fine.copy()
    df["cbucket"] = df["bucket"] // ratio
    rows = []
    for (doc_id, cb), g in df.groupby(["doc_id", "cbucket"], sort=True):
        g = g.sort_values("bucket")
        data = g[g["cnt"] > 0]
        cnt = int(g["cnt"].sum())
        rows.append(
            {
                "doc_id": doc_id,
                "bucket": int(cb),
                "bucket_ts": pd.Timestamp(
                    (EPOCH0_EPOCH_SECONDS + int(cb) * bc) * 10**9, tz="UTC"
                ),
                "cnt": cnt,
                "vmin": int(data["vmin"].min()) if len(data) else None,
                "vmax": int(data["vmax"].max()) if len(data) else None,
                "vsum": int(data["vsum"].sum()) if len(data) else None,
                "vmean": float(data["vsum"].sum()) / cnt if cnt else None,
                "anom_cnt": int(g["anom_cnt"].sum()),
                "first_v": int(data.iloc[0]["first_v"]) if len(data) else None,
                "last_v": int(data.iloc[-1]["last_v"]) if len(data) else None,
            }
        )
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# Table-level drivers (what the parity tests call)
# ---------------------------------------------------------------------------


def pipeline_oracle(
    token_rows: list[dict],
    w: int = DEFAULT_WINDOW,
    k: float = DEFAULT_K,
    policy: str = "ffill",
) -> dict[str, pd.DataFrame]:
    """Run the full single-machine pipeline over [{doc_id, tokens, ...}].

    Returns {'filled': df(doc_id, tokens), 'stats': df(doc_id, t, v, ma, sd,
    score, is_anom), 'detect': df(doc_id, anomalies), 'rollup_1m'/'1h'/'1d'}.
    """
    filled_rows, stats_frames, detect_rows, rollup_frames = [], [], [], []
    for row in token_rows:
        doc_id, tokens = row["doc_id"], list(row["tokens"] or [])
        filled = gap_fill_series(tokens, policy)
        filled_rows.append({"doc_id": doc_id, "tokens": filled})
        st = rolling_stats_series(filled, w, k)
        st.insert(0, "doc_id", doc_id)
        stats_frames.append(st)
        detect_rows.append(
            {
                "doc_id": doc_id,
                "anomalies": st.loc[st["is_anom"], "t"].astype(int).tolist(),
            }
        )
        if len(st):
            rollup_frames.append(rollup_series(doc_id, st, "1m"))
    empty_rollup = pd.DataFrame(
        columns=[
            "doc_id", "bucket", "bucket_ts", "cnt", "vmin", "vmax", "vsum",
            "vmean", "anom_cnt", "first_v", "last_v",
        ]
    )
    rollup_frames = [f for f in rollup_frames if len(f)]
    r1m = (
        pd.concat(rollup_frames, ignore_index=True) if rollup_frames else empty_rollup
    )
    r1h = cascade_oracle(r1m, "1m", "1h") if len(r1m) else empty_rollup
    r1d = cascade_oracle(r1h, "1h", "1d") if len(r1h) else empty_rollup
    return {
        "filled": pd.DataFrame(filled_rows),
        # drop all-empty frames before concat: pandas deprecated letting
        # empty frames participate in result-dtype inference
        "stats": pd.concat(
            [f for f in stats_frames if len(f)] or stats_frames[:1],
            ignore_index=True,
        )
        if stats_frames
        else pd.DataFrame(),
        "detect": pd.DataFrame(detect_rows),
        "rollup_1m": r1m,
        "rollup_1h": r1h,
        "rollup_1d": r1d,
    }

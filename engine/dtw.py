"""Banded dynamic-time-warping distance between minute-count series
(round 6).

DTW (Sakoe & Chiba 1978) is the series-similarity measure Pearson
correlation cannot express: two users doing the SAME thing shifted or
locally stretched in time correlate near zero but warp to a small DTW
cost. Beside q_corr_pairs (who moves with whom, synchronously) this
answers who moves with whom UP TO local time warping — mirror bots with
jitter, staged rollouts, replayed traffic.

Semantics (exact, integer end to end):
  - input series are the zero-filled minutely event counts of the top-K
    most active users over the GLOBAL minute span (corr_pairs' grid),
    so both series in a pair have identical length n;
  - local cost |a_i - b_j| (L1 on int64 counts), step pattern the
    classic symmetric (match / insert / delete), Sakoe-Chiba band
    |i - j| <= band — the standard O(n*band) DP;
  - all costs are int64, so the distance is EXACT (no float policy
    anywhere); determinism is free.

Scale shape: per-pair memory is two band-rows of the DP (O(band)), the
series themselves are span-bounded (a year = 525k int64s — the
documented fft/spectral grid budget; longer horizons pre-aggregate to a
coarser grid first). K*(K-1)/2 pairs evaluate independently inside one
Arrow batch stream.

No SQL twin exists for a DP recurrence, so the driver check is
rows-only (SURVEY §2.4, like fft_top_periods); exactness is pinned in
pytest against an independent full-matrix O(n^2) reference DP plus the
metric axioms (identity, symmetry) on fuzzed series.
"""

from __future__ import annotations

import numpy as np

_INF = np.int64(2**62)


def banded_dtw_l1(a: np.ndarray, b: np.ndarray, band: int) -> int:
    """Exact banded DTW with L1 local cost on int64 arrays.

    Two-row DP over the Sakoe-Chiba band; requires len(a) == len(b)
    (the dense-grid contract) so the band always contains a feasible
    path. Returns the int cost.

    Round 7: the row update is allocation-free — the previous row lives
    in a buffer with one INF pad slot at each end, so the ``up`` and
    ``diag`` gathers are pure slices of it (round 6 built two fresh
    padded copies per row, ~8 allocations/row: 1.9 s -> ~1.0 s on
    a 43200-minute pair). Same recurrence, bit-identical result (pinned
    vs the full-matrix reference DP in tests/test_dtw.py).
    """
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    n = len(a)
    if n != len(b):
        raise ValueError(f"series lengths differ: {n} != {len(b)}")
    if n == 0:
        return 0
    band = max(0, int(band))
    wmax = min(n, 2 * band + 1)
    # double-buffered DP rows, each padded with INF at [0] and [w+1];
    # prev covers columns [plo, plo+wp-1] at buf[1:wp+1]
    bufs = (np.full(wmax + 2, _INF), np.full(wmax + 2, _INF))
    cost = np.empty(wmax, dtype=np.int64)
    csum = np.empty(wmax, dtype=np.int64)
    d = np.empty(wmax, dtype=np.int64)
    plo = 0
    wp = 0
    for i in range(n):
        lo = max(0, i - band)
        hi = min(n - 1, i + band)
        w = hi - lo + 1
        np.subtract(a[i], b[lo : hi + 1], out=cost[:w])
        np.abs(cost[:w], out=cost[:w])
        np.cumsum(cost[:w], out=csum[:w])
        cur = bufs[i & 1]
        if i == 0:
            # first row: only horizontal moves from (0, lo..j-1)
            cur[1 : w + 1] = csum[:w]
        else:
            # best NON-horizontal predecessor per cell: min(prev[j],
            # prev[j-1]), INF-padded outside the previous row's band.
            # The horizontal recurrence cur[j] = cost[j] +
            # min(best[j], cur[j-1]) unrolls to the prefix form
            # cur[j] = C[j] + min_{k<=j}(best[k] - C[k-1]) with
            # C = cumsum(cost) — a running minimum, so the whole row
            # is a handful of vectorized band-width passes (a Python
            # scan made a 43k-minute grid take hours; this takes ms).
            # prev index for up at col lo+k is base+k, diag is base+k-1;
            # base = lo-plo >= 0, and base+w <= wp+1 (hi advances by at
            # most 1 past the previous row's hi) — both inside the
            # 1-slot pads.
            prev = bufs[(i - 1) & 1]
            base = lo - plo
            np.minimum(
                prev[1 + base : 1 + base + w],
                prev[base : base + w],
                out=d[:w],
            )
            if w > 1:
                np.subtract(d[1:w], csum[: w - 1], out=d[1:w])
            np.minimum.accumulate(d[:w], out=d[:w])
            np.add(csum[:w], d[:w], out=cur[1 : w + 1])
        cur[0] = _INF
        cur[w + 1] = _INF
        plo, wp = lo, w
    return int(bufs[(n - 1) & 1][1 + (n - 1 - plo)])


def reference_dtw_l1(a, b) -> int:
    """Independent full-matrix O(n*m) DTW used ONLY by tests to pin the
    banded kernel (band >= n makes them identical by construction)."""
    n, m = len(a), len(b)
    if n == 0 and m == 0:
        return 0
    big = float("inf")
    d = [[big] * (m + 1) for _ in range(n + 1)]
    d[0][0] = 0.0
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            c = abs(int(a[i - 1]) - int(b[j - 1]))
            d[i][j] = c + min(d[i - 1][j], d[i][j - 1], d[i - 1][j - 1])
    return int(d[n][m])

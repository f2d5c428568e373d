"""Fused doc-level pipeline: gap-fill -> rolling stats -> detect -> 1m,
1h and 1d rollup -> compression in ONE Arrow pass over the raw token
table, with NO shuffle of raw points. This is the engine's only builder of
the rollup tiers; the pinned semantics it computes (G1 gap-fill, R1-R4
stats/detect, A1 rollup) are specified in engine/oracle.py, its
independent reference.

Why this shape: the B:15 input is row-per-doc with the WHOLE series in one
array, so every per-series operator (G1 gap-fill, R1-R4 stats/detect, A1
bucket rollup, C1/C2 compression) is a pure function of one row. A
point-per-row plan must shuffle and sort every point to feed doc_id
windows — at 196.6M points that exchange+sort saturated one machine's
memory/disk bandwidth and capped N->4N core scaling at ~0.5-0.7. So this
pass maps each Arrow batch of doc rows through vectorized NumPy kernels and
emits finished rollup rows of every requested tier, each doc's coarse rows
rolled up from the same gap-filled series as its 1m rows; the only
exchange left in the job is bucketing the ~60x smaller output for the one
partitioned write (jobs/rollup.py). A coarse tier built as a second Spark
pass (re-read, aggregate, exchange, commit) costs a fixed ~0.6 s per tier
whatever its size; here it costs a few NumPy reductions per batch. This is
exactly the sanctioned shape — "pyspark.sql DataFrame + vectorized
pandas/Arrow UDFs (no per-row Python) throughout" (BASELINE.json:15).

Flat SEGMENTED kernels, no per-doc Python loop: the batch's series are
concatenated into ONE flat float64 array with per-doc segment offsets, and
gap-fill / windowed stats / bucket rollup all run as single NumPy passes
over the flat array (prefix scans clamped at segment starts;
``np.*.reduceat`` at per-doc bucket boundaries). A per-doc loop costs
~10-20 NumPy calls of fixed ~us overhead each per doc, which dominates at
short docs — the regime most LLM training data lives in (<=256-token
fragments). The only per-element Python left is the exact window
arithmetic of int32-extreme docs (_exact_num), which no in-range doc
enters.

BIT-EXACTNESS: identical to engine/oracle.py on every int32 input (pinned
by tests/test_parity.py and tests/test_fused.py, which assert row equality
of every tier against oracle.pipeline_oracle on the full parity fixture,
int32 extremes included):
  - same exact integer window sums. In-range docs use int64 cumsum
    differences: the GLOBAL cumsum over the flat batch may wrap int64, but
    two's-complement wraparound cancels in the subtraction, so any window
    sum that itself fits int64 is exact. A doc whose windows can overflow
    num = w*s2 - s1^2 (see _exact_docs) takes Python-int prefix sums
    instead, as the oracle does;
  - same final float sequence ma = double(s1)/w,
    sd = sqrt(double(num)/(w*(w-1))), score = |v - ma|/sd
    (the R1-R4 spec in engine/oracle.py);
  - same compression kernels (engine/compression.py — single
    implementation).

Arrow batch sizing: one row here is a whole series (n_tok values), so a
batch is sized in bytes, not rows: jobs/rollup.py sets
spark.sql.execution.arrow.maxBytesPerBatch to 1 MiB of Arrow input (~2 MiB
of float64 series: 32 rows of 8192-token docs, 3 of 86400-token docs).
The output does not depend on the batch size.
"""

from __future__ import annotations

import numpy as np

from engine.schema import (
    DEFAULT_K,
    DEFAULT_WINDOW,
    EPOCH0_EPOCH_SECONDS,
    GAP_POLICIES,
    TIER_ORDER,
    TIER_SECONDS,
)

# (w*max|v|)^2 at or above this can overflow num = w*s2 - s1^2 in int64
_INT64_LIMIT = 2**63

_ROLLUP_DDL = (
    "doc_id string, bucket long, cnt long, vmin int, vmax int, "
    "vsum long, vmean double, anom_cnt long, first_v int, "
    "last_v int, ts_dod binary, v_gorilla binary, tier string"
)


def _flat_gap_fill(vf: np.ndarray, pos_start: np.ndarray, pos_end: np.ndarray,
                   policy: str) -> np.ndarray:
    """Vectorized G1 over a FLAT batch of concatenated series (float64,
    NaN = gap). ``pos_start``/``pos_end`` give each position's segment
    bounds, which clamp the prefix scans so fills never cross docs. Pinned
    semantics in engine/oracle.py; all three policies leave NaN only as a
    per-doc PREFIX."""
    valid = ~np.isnan(vf)
    if policy == "zero":
        return np.where(valid, vf, 0.0)
    n = vf.size
    prev = np.where(valid, np.arange(n), -1)
    np.maximum.accumulate(prev, out=prev)
    # a carried index before this doc's start is another doc's value -> NaN
    in_seg = prev >= pos_start
    ff = np.where(in_seg, vf[np.maximum(prev, 0)], np.nan)
    if policy == "ffill":
        return ff
    # linear: interior gaps get exact integer floor interpolation; leading
    # stay NaN, trailing forward-fill (already in ff). Indices are global
    # but only differences (q-i, i-p, q-p) enter the formula, so the
    # segment offset cancels.
    nxt = np.where(valid, np.arange(n), n)
    nxt = np.minimum.accumulate(nxt[::-1])[::-1]
    out = ff
    interior = (~valid) & in_seg & (nxt < pos_end)
    if interior.any():
        i = np.flatnonzero(interior)
        p, q = prev[i], nxt[i]
        pv = vf[p].astype(np.int64)
        qv = vf[q].astype(np.int64)
        num = pv * (q - i) + qv * (i - p)
        out[i] = np.floor_divide(num, q - p).astype(np.float64)
    return out


def _exact_docs(m: np.ndarray, maxabs: np.ndarray, w: int) -> np.ndarray:
    """Per-doc mask of the docs whose window sums need the exact route.

    Below (w*max)^2 < 2^63 both s1*s1 and w*s2 fit int64, so num does too
    (ADVICE r02: w=30 with |v|~2e8 is outside; max|v| ~1.0e8 is the edge).
    Docs with fewer than w valid points compute no window, so they never
    need it (ADVICE r03). The products are Python ints (object dtype), as
    the bound is evaluated exactly for the very inputs it selects.
    O(docs-per-batch), not O(points)."""
    x_o = maxabs.astype(object)
    return (m >= w) & ((w * x_o) ** 2 >= _INT64_LIMIT).astype(bool)


def _exact_num(x: np.ndarray, w: int) -> np.ndarray:
    """double(w*s2 - s1^2) over trailing w-windows of *x* (the int values of
    whole docs, concatenated), from Python-int prefix sums — exact for any
    int32 input, then correctly rounded like the oracle's float(num).
    Windows that cross a doc start are garbage; the caller masks them."""
    xo = x.astype(object)
    zero = np.zeros(1, dtype=object)
    c1 = np.concatenate((zero, np.cumsum(xo)))
    c2 = np.concatenate((zero, np.cumsum(xo * xo)))
    j = np.arange(1, x.size + 1)
    lo = np.maximum(j - w, 0)
    s1 = c1[j] - c1[lo]
    return (w * (c2[j] - c2[lo]) - s1 * s1).astype(np.float64)


def _flat_anom_flags(vf: np.ndarray, seg_starts: np.ndarray,
                     lengths: np.ndarray, w: int, k: float) -> np.ndarray:
    """Vectorized R1-R4 over the flat gap-filled batch -> boolean flags.

    Valid values are a contiguous per-doc suffix (gap-fill invariant), so
    the min-periods mask is simply 'window start >= the doc's first valid
    index' — which also keeps every summed window inside one doc, making
    the single global cumsum segment-safe."""
    n = vf.size
    valid = ~np.isnan(vf)
    pos = np.arange(n)
    fv_seg = np.minimum.reduceat(np.where(valid, pos, n), seg_starts)
    iv0 = np.where(valid, vf, 0.0).astype(np.int64)
    c1 = np.concatenate(([0], np.cumsum(iv0)))
    c2 = np.concatenate(([0], np.cumsum(iv0 * iv0)))
    winstart = pos + 1 - w
    full = winstart >= np.repeat(fv_seg, lengths)
    lo = np.where(full, winstart, 0)
    # |s1| <= w*2^31 always fits int64, so s1 (and ma) is exact for every
    # doc; only num can wrap, and only in the docs _exact_docs selects
    s1 = c1[pos + 1] - c1[lo]
    s2 = c2[pos + 1] - c2[lo]
    num = (w * s2 - s1 * s1).astype(np.float64)
    maxabs_seg = np.maximum.reduceat(np.abs(iv0), seg_starts)
    m_seg = np.maximum(seg_starts + lengths - fv_seg, 0)
    exact = _exact_docs(m_seg, maxabs_seg, w)
    if exact.any():
        at = np.repeat(exact, lengths)
        num[at] = _exact_num(iv0[at], w)
    ma = s1.astype(np.float64) / float(w)
    # non-full positions carry garbage sums (lo clamped to 0) — every use
    # below is masked by `full`; errstate covers the NaN comparisons too
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        sd = np.sqrt(num / float(w * (w - 1)))
        score = np.abs(np.where(valid, vf, 0.0) - ma) / sd
        return full & (sd > 0) & (score > float(k))


def _flat_detect(vf: np.ndarray, lengths: np.ndarray, policy: str, w: int,
                 k: float) -> tuple:
    """G1 + R1-R4 over one flat batch of raw series (float64, NaN = gap;
    every length > 0) -> (gap-filled values, segment starts, per-point
    anomaly flags)."""
    seg_starts = np.concatenate(([0], np.cumsum(lengths)))[:-1]
    vf = _flat_gap_fill(vf, np.repeat(seg_starts, lengths),
                        np.repeat(seg_starts + lengths, lengths), policy)
    return vf, seg_starts, _flat_anom_flags(vf, seg_starts, lengths, w, k)


def _anom_flags(vf: np.ndarray, w: int, k: float) -> np.ndarray:
    """R1-R4 flags of one gap-filled series (tests)."""
    if vf.size == 0:
        return np.zeros(0, dtype=bool)
    return _flat_anom_flags(vf, np.zeros(1, dtype=np.int64),
                            np.array([vf.size]), w, k)


def _flat_rollup_cols(vf: np.ndarray, anom: np.ndarray,
                      seg_starts: np.ndarray, lengths: np.ndarray,
                      b: int, compress: bool) -> tuple:
    """A1 (+C1/C2) over the flat batch -> per-bucket column arrays (every
    bucket in [0, ceil(len/b)) per doc is emitted, cnt=0 buckets included —
    identical to the oracle's per-bucket groupBy, which sees the null
    points too).

    Returns (nb_per_doc, bucket, cnt, vmin, vmax, vsum, vmean, anom_cnt,
    first_v, last_v, empty_mask, payloads_t, payloads_v) as typed NumPy
    columns, not row tuples: the batch assembler hands them to columnar
    pandas (nullable Int arrays), so the pandas -> Arrow trip back to the
    JVM never walks Python objects — measured 3-5 s/task of per-cell
    conversion at 200k output rows otherwise."""
    from engine.compression import dod_compress_parts, gorilla_compress_parts

    n = vf.size
    valid = ~np.isnan(vf)
    nb = -(-lengths // b)  # ceil
    total_nb = int(nb.sum())
    doc_of_bucket = np.repeat(np.arange(nb.size), nb)
    nb0 = np.concatenate(([0], np.cumsum(nb)))[:-1]
    bucket = np.arange(total_nb, dtype=np.int64) - np.repeat(nb0, nb)
    bstarts = seg_starts[doc_of_bucket] + bucket * b

    cnts = np.add.reduceat(valid.astype(np.int64), bstarts)
    sums = np.add.reduceat(np.where(valid, vf, 0.0).astype(np.int64), bstarts)
    vmins = np.minimum.reduceat(np.where(valid, vf, np.inf), bstarts)
    vmaxs = np.maximum.reduceat(np.where(valid, vf, -np.inf), bstarts)
    firsts = np.minimum.reduceat(np.where(valid, np.arange(n), n), bstarts)
    lasts = np.maximum.reduceat(np.where(valid, np.arange(n), -1), bstarts)
    anoms = np.add.reduceat(anom.astype(np.int64), bstarts)
    empty = cnts == 0
    # sums is exactly int; float64 division == Catalyst double(vsum)/cnt
    with np.errstate(divide="ignore", invalid="ignore"):
        vmeans = sums.astype(np.float64) / cnts.astype(np.float64)
    safe_first = np.where(empty, 0, np.minimum(firsts, n - 1)).astype(np.int64)
    safe_last = np.where(empty, 0, np.maximum(lasts, 0)).astype(np.int64)
    payloads_t = None
    payloads_v = None
    if compress:
        # vectorized multi-frame codecs: the valid points, taken in global
        # order, are already grouped by bucket (buckets are contiguous
        # position ranges), so per-bucket counts ARE the frame lengths.
        # Timestamps inside a payload are DOC-relative positions. Round 7:
        # the codecs return (data, offsets) — one contiguous buffer per
        # batch, consumed zero-copy as an Arrow binary column (guide §4.2);
        # per-frame Python bytes are no longer materialized on this path.
        tv_global = np.flatnonzero(valid)
        seg_of_point = np.repeat(seg_starts[doc_of_bucket], cnts)
        payloads_t = dod_compress_parts(tv_global - seg_of_point, cnts)
        payloads_v = gorilla_compress_parts(
            vf[tv_global].astype(np.int64), cnts
        )
    return (
        nb,
        bucket,
        cnts,
        np.where(empty, 0, vmins).astype(np.int64),
        np.where(empty, 0, vmaxs).astype(np.int64),
        sums,
        vmeans,
        anoms,
        # empty buckets gather a NaN — zero it before the int cast (the
        # value is masked out downstream; this only silences the cast)
        np.where(empty, 0.0, vf[safe_first]).astype(np.int64),
        np.where(empty, 0.0, vf[safe_last]).astype(np.int64),
        empty,
        payloads_t,
        payloads_v,
    )


def fused_rollup(
    tokens_df,
    tiers,
    w: int = DEFAULT_WINDOW,
    k: float = DEFAULT_K,
    policy: str = "ffill",
    compress: bool = True,
):
    """The shuffle-free tier build: token table -> finished rollup rows of
    every tier in *tiers*, tagged by a ``tier`` column.

    mapInArrow over the raw rows — each doc is self-contained, so the
    operator is NARROW (no exchange, no sort). Each doc is gap-filled and
    scored once; A1 then runs per tier over the same filled series at that
    tier's width (TIER_SECONDS). A direct rollup at a coarse width equals
    the cascade of the 1m rows (min/max/sum/cnt compose exactly;
    tests/test_parity.py pins both against engine/oracle.py), so the 1h
    and 1d rows need no second pass. Payloads (C1/C2) are built for the 1m
    tier only and are NULL elsewhere or when compress=False. Returns the
    standard rollup schema incl. bucket_ts, plus ``tier``.

    Round 7 (guide §4.2): the kernel consumes and emits Arrow record
    batches directly instead of pandas frames. Input series come straight
    off the list column's values/offsets buffers; output doc_ids are an
    Arrow ``take`` on the input string column (no per-row Python strings),
    and the compression payloads are emitted as one contiguous buffer +
    offsets per batch (the Arrow binary layout the codecs now produce) —
    the pandas round trip previously walked ~2 Python objects per output
    row on the payload columns alone.
    """
    from pyspark.sql import functions as F

    if policy not in GAP_POLICIES:
        raise ValueError(f"unknown gap-fill policy {policy!r}; one of {GAP_POLICIES}")
    if w < 2:
        raise ValueError(f"window must be >= 2 for a sample std, got {w}")
    if not tiers or set(tiers) - set(TIER_ORDER):
        raise ValueError(f"tiers must be a non-empty subset of {TIER_ORDER}, got {tiers}")
    tiers_ = [t for t in TIER_ORDER if t in tiers]
    w_, k_, policy_, compress_ = int(w), float(k), policy, bool(compress)

    def run_batches(batches):
        import pyarrow as pa

        out_schema = pa.schema(
            [
                ("doc_id", pa.string()),
                ("bucket", pa.int64()),
                ("cnt", pa.int64()),
                ("vmin", pa.int32()),
                ("vmax", pa.int32()),
                ("vsum", pa.int64()),
                ("vmean", pa.float64()),
                ("anom_cnt", pa.int64()),
                ("first_v", pa.int32()),
                ("last_v", pa.int32()),
                ("ts_dod", pa.binary()),
                ("v_gorilla", pa.binary()),
                ("tier", pa.string()),
            ]
        )

        def _binary_col(parts, n_rows):
            data, off = parts
            return pa.Array.from_buffers(
                pa.binary(),
                n_rows,
                [
                    None,
                    pa.py_buffer(off.astype(np.int32).tobytes()),
                    pa.py_buffer(data),
                ],
            )

        for rb in batches:
            doc_col = rb.column(0)
            toks = rb.column(1)
            offs = toks.offsets.to_numpy().astype(np.int64)
            # a null list row must read as length 0 whatever its offsets
            lengths_all = np.diff(offs) * toks.is_valid().to_numpy(
                zero_copy_only=False
            )
            kept = np.flatnonzero(lengths_all > 0)
            if kept.size == 0:
                continue
            lengths = lengths_all[kept]
            vals_np = toks.values.to_numpy(zero_copy_only=False)
            # one flat array for the whole batch (float64, NaN = gap; the
            # no-null fast path hands back int32 — promote)
            vf = np.concatenate(
                [vals_np[offs[j]: offs[j + 1]] for j in kept]
            ).astype(np.float64, copy=False)
            vf, seg_starts, anom = _flat_detect(vf, lengths, policy_, w_, k_)
            for tier in tiers_:
                pay = compress_ and tier == "1m"
                (
                    nb, bucket, cnt, vmin, vmax, vsum, vmean, anom_cnt,
                    first_v, last_v, empty, pay_t, pay_v,
                ) = _flat_rollup_cols(vf, anom, seg_starts, lengths,
                                      TIER_SECONDS[tier], pay)

                nbt = bucket.size
                yield pa.RecordBatch.from_arrays(
                    [
                        doc_col.take(pa.array(np.repeat(kept, nb))),
                        pa.array(bucket),
                        pa.array(cnt),
                        pa.array(vmin.astype(np.int32), mask=empty),
                        pa.array(vmax.astype(np.int32), mask=empty),
                        pa.array(vsum, mask=empty),
                        pa.array(vmean, mask=empty),
                        pa.array(anom_cnt),
                        pa.array(first_v.astype(np.int32), mask=empty),
                        pa.array(last_v.astype(np.int32), mask=empty),
                        _binary_col(pay_t, nbt) if pay else pa.nulls(nbt, pa.binary()),
                        _binary_col(pay_v, nbt) if pay else pa.nulls(nbt, pa.binary()),
                        pa.repeat(tier, nbt),
                    ],
                    schema=out_schema,
                )

    out = tokens_df.select("doc_id", "tokens").mapInArrow(run_batches, _ROLLUP_DDL)
    width = F.lit(TIER_SECONDS[tiers_[0]])
    for tier in tiers_[1:]:
        width = F.when(F.col("tier") == tier, TIER_SECONDS[tier]).otherwise(width)
    return out.withColumn(
        "bucket_ts",
        F.timestamp_seconds(F.lit(EPOCH0_EPOCH_SECONDS) + F.col("bucket") * width),
    ).select(
        "doc_id", "bucket", "bucket_ts", "cnt", "vmin", "vmax", "vsum",
        "vmean", "anom_cnt", "first_v", "last_v", "ts_dod", "v_gorilla", "tier",
    )


def fused_rollup_1m(
    tokens_df,
    w: int = DEFAULT_WINDOW,
    k: float = DEFAULT_K,
    policy: str = "ffill",
    compress: bool = True,
):
    """The 1m tier alone: fused_rollup's 1m-only call, without its ``tier``
    column."""
    return fused_rollup(tokens_df, ("1m",), w, k, policy, compress).drop("tier")

"""Fused doc-level pipeline: gap-fill -> rolling stats -> detect -> 1m
rollup -> compression in ONE Arrow pass over the raw token table, with NO
shuffle of raw points.

Why this exists (round-2 scaling work): the exploded pipeline must shuffle
and sort every point (t-per-row) to feed the doc_id-partitioned windows —
at 196.6M points that exchange+sort saturates one machine's memory/disk
bandwidth and caps N->4N core scaling at ~0.5-0.7. But the B:15 input is
row-per-doc with the WHOLE series in one array: every per-series operator
(G1 gap-fill, R1-R4 stats/detect, A1 bucket rollup, C1/C2 compression) is a
pure function of one row. So the scale path maps each Arrow batch of doc
rows through vectorized NumPy kernels and emits finished rollup rows; the
only exchange left in the job is bucketing the ~60x smaller aggregate
output for the partitioned write. This is exactly the sanctioned shape —
"pyspark.sql DataFrame + vectorized pandas/Arrow UDFs (no per-row Python)
throughout" (BASELINE.json:15).

ROUND-3 SHAPE — flat SEGMENTED kernels, no per-doc Python loop: the batch's
series are concatenated into ONE flat float64 array with per-doc segment
offsets, and gap-fill / windowed stats / bucket rollup all run as single
NumPy passes over the flat array (prefix scans clamped at segment starts;
``np.*.reduceat`` at per-doc bucket boundaries). Round 2 looped Python per
doc (~10-20 NumPy calls of fixed ~us overhead each per doc), which
dominated at short docs — the regime most LLM training data lives in
(<=256-token fragments). The only remaining per-element Python is the
per-BUCKET compression loop when compress=True (the C1/C2 byte codecs are
inherently sequential per payload).

BIT-EXACTNESS: identical to the exploded path (pinned by
tests/test_fused.py, which asserts row-set equality against
rollup_from_points / rollup_1m_with_payloads on the parity fixture):
  - same exact integer window sums (int64 cumsum differences; the GLOBAL
    cumsum over the flat batch may wrap int64, but two's-complement
    wraparound cancels in the subtraction, so any window sum that itself
    fits int64 — guaranteed by the per-doc guard — is exact);
  - same final float sequence ma = double(s1)/w,
    sd = sqrt(double(num)/(w*(w-1))), score = |v - ma|/sd
    (engine/stats.py docstring);
  - same compression kernels (engine/compression.py — single
    implementation).
Overflow policy mirrors the 'long' stats carrier, checked PER DOC and
FAILING LOUDLY outside the exact-int64 domain (see _check_guard), directing
the caller to the exploded pipeline with the decimal carrier.

Arrow batch sizing: one row here is a whole series (n_tok values), so the
caller must size spark.sql.execution.arrow.maxRecordsPerBatch in ROWS OF
DOCS, not the point-stream default. jobs/rollup.py derives the row count
from a byte budget (2 MB of float64 series per batch by default: 32 rows
at 8192-token docs).
"""

from __future__ import annotations

import numpy as np

from engine.schema import DEFAULT_K, DEFAULT_WINDOW, EPOCH0_EPOCH_SECONDS, TIER_SECONDS
from engine.series import GAP_POLICIES

_ROLLUP_COLS = [
    "doc_id", "bucket", "cnt", "vmin", "vmax", "vsum", "vmean",
    "anom_cnt", "first_v", "last_v", "ts_dod", "v_gorilla",
]
_ROLLUP_DDL = (
    "doc_id string, bucket long, cnt long, vmin int, vmax int, "
    "vsum long, vmean double, anom_cnt long, first_v int, "
    "last_v int, ts_dod binary, v_gorilla binary"
)


def _flat_gap_fill(vf: np.ndarray, pos_start: np.ndarray, pos_end: np.ndarray,
                   policy: str) -> np.ndarray:
    """Vectorized G1 over a FLAT batch of concatenated series (float64,
    NaN = gap). ``pos_start``/``pos_end`` give each position's segment
    bounds, which clamp the prefix scans so fills never cross docs. Pinned
    semantics of engine/series.py; all three policies leave NaN only as a
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


def _check_guard(m: np.ndarray, maxabs: np.ndarray, w: int) -> None:
    """Per-doc exact-int64 domain bounds (both must hold, both FAIL LOUDLY):
      m*max^2   >= per-doc sum-of-squares contribution          -> < 2^62
      (w*max)^2 >= both s1*s1 and w*s2 in num = w*s2 - s1^2     -> < 2^63
    The second was missing in round 2 (ADVICE r02 medium): w=30 with
    |v|~2e8 passed the first bound yet s1^2 wrapped int64 silently.

    Docs with fewer than w valid points are EXEMPT (ADVICE r03): no window
    is ever computed for them, so their extreme values can't reach a sum —
    and the global cumsum they pollute cancels exactly in any other doc's
    window subtraction (two's-complement wraparound, module docstring).
    This matches the round-2 kernel's early-return semantics."""
    # exact Python-int arithmetic (object dtype): the guard products
    # themselves exceed int64 for the very inputs they must reject, and a
    # wrapped product would silently pass. O(docs-per-batch), not O(points).
    m_o = m.astype(object)
    x_o = maxabs.astype(object)
    bad = (
        (m >= w)
        & ((m_o * x_o * x_o >= 2**62) | ((w * x_o) ** 2 >= 2**63)).astype(bool)
    )
    if bad.any():
        j = int(np.argmax(bad))
        raise ValueError(
            "fused kernel: exact int64 domain exceeded "
            f"(n={int(m[j])}, w={w}, max|v|={int(maxabs[j])}: need "
            "n*max^2 < 2^62 and (w*max)^2 < 2^63); rerun with "
            "pipeline='exploded' and stats_mode='decimal' (engine/stats.py)"
        )


def _flat_anom_flags(vf: np.ndarray, seg_starts: np.ndarray,
                     lengths: np.ndarray, pos_fv: np.ndarray,
                     fv_seg: np.ndarray, w: int, k: float) -> np.ndarray:
    """Vectorized R1-R4 over the flat gap-filled batch -> boolean flags.

    Valid values are a contiguous per-doc suffix (gap-fill invariant), so
    the min-periods mask is simply 'window start >= the doc's first valid
    index' — which also keeps every summed window inside one doc, making
    the single global cumsum segment-safe."""
    n = vf.size
    valid = ~np.isnan(vf)
    iv0 = np.where(valid, vf, 0.0).astype(np.int64)
    maxabs_seg = (
        np.maximum.reduceat(np.abs(iv0), seg_starts)
        if n
        else np.zeros(0, dtype=np.int64)
    )
    m_seg = np.maximum(seg_starts + lengths - fv_seg, 0)
    _check_guard(m_seg, maxabs_seg, w)
    c1 = np.concatenate(([0], np.cumsum(iv0)))
    c2 = np.concatenate(([0], np.cumsum(iv0 * iv0)))
    pos = np.arange(n)
    winstart = pos + 1 - w
    full = winstart >= pos_fv
    lo = np.where(full, winstart, 0)
    s1 = c1[pos + 1] - c1[lo]
    s2 = c2[pos + 1] - c2[lo]
    num = w * s2 - s1 * s1
    ma = s1.astype(np.float64) / float(w)
    # non-full positions carry garbage sums (lo clamped to 0) — every use
    # below is masked by `full`; errstate covers the NaN comparisons too
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        sd = np.sqrt(num.astype(np.float64) / float(w * (w - 1)))
        score = np.abs(np.where(valid, vf, 0.0) - ma) / sd
        return full & (sd > 0) & (score > float(k))


def _anom_flags(vf: np.ndarray, w: int, k: float) -> np.ndarray:
    """One-series convenience wrapper over the flat kernel (tests)."""
    n = vf.size
    if n == 0:
        return np.zeros(0, dtype=bool)
    seg_starts = np.array([0], dtype=np.int64)
    lengths = np.array([n], dtype=np.int64)
    valid = ~np.isnan(vf)
    fv = int(np.argmax(valid)) if valid.any() else n
    fv_seg = np.array([fv], dtype=np.int64)
    pos_fv = np.full(n, fv, dtype=np.int64)
    return _flat_anom_flags(vf, seg_starts, lengths, pos_fv, fv_seg, w, k)


def _flat_rollup_cols(vf: np.ndarray, anom: np.ndarray,
                      seg_starts: np.ndarray, lengths: np.ndarray,
                      b: int, compress: bool) -> tuple:
    """A1 (+C1/C2) over the flat batch -> per-bucket column arrays (every
    bucket in [0, ceil(len/b)) per doc is emitted, cnt=0 buckets included —
    identical to the exploded groupBy, which sees the null points too).

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


def fused_rollup_1m(
    tokens_df,
    w: int = DEFAULT_WINDOW,
    k: float = DEFAULT_K,
    policy: str = "ffill",
    compress: bool = True,
    tier: str = "1m",
):
    """The shuffle-free 1m tier: token table -> finished rollup rows.

    mapInArrow over the raw rows — each doc is self-contained, so the
    operator is NARROW (no exchange, no sort). Returns the standard rollup
    schema incl. bucket_ts; payload columns are NULL when compress=False.

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
    b = TIER_SECONDS[tier]
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
            n = vf.size
            seg_starts = np.concatenate(([0], np.cumsum(lengths)))[:-1]
            pos_start = np.repeat(seg_starts, lengths)
            pos_end = np.repeat(seg_starts + lengths, lengths)

            vf = _flat_gap_fill(vf, pos_start, pos_end, policy_)
            valid = ~np.isnan(vf)
            fv_seg = np.minimum.reduceat(
                np.where(valid, np.arange(n), n), seg_starts
            )
            pos_fv = np.repeat(fv_seg, lengths)
            anom = _flat_anom_flags(
                vf, seg_starts, lengths, pos_fv, fv_seg, w_, k_
            )
            (
                nb, bucket, cnt, vmin, vmax, vsum, vmean, anom_cnt,
                first_v, last_v, empty, pay_t, pay_v,
            ) = _flat_rollup_cols(vf, anom, seg_starts, lengths, b, compress_)

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
                    _binary_col(pay_t, nbt)
                    if compress_
                    else pa.nulls(nbt, pa.binary()),
                    _binary_col(pay_v, nbt)
                    if compress_
                    else pa.nulls(nbt, pa.binary()),
                ],
                schema=out_schema,
            )

    out = tokens_df.select("doc_id", "tokens").mapInArrow(run_batches, _ROLLUP_DDL)
    return out.withColumn(
        "bucket_ts",
        F.timestamp_seconds(F.lit(EPOCH0_EPOCH_SECONDS) + F.col("bucket") * F.lit(b)),
    ).select(
        "doc_id", "bucket", "bucket_ts", "cnt", "vmin", "vmax", "vsum",
        "vmean", "anom_cnt", "first_v", "last_v", "ts_dod", "v_gorilla",
    )

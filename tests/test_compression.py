"""C1-C3 roundtrip/property tests (SURVEY.md §5.3) + Spark integration."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from engine.compression import (
    dod_compress,
    dod_compress_parts,
    dod_decompress,
    dod_decompress_many,
    gorilla_compress,
    gorilla_compress_parts,
    gorilla_decompress,
    gorilla_decompress_many,
)

I32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)


def _frames(parts) -> list:
    """Per-frame bytes of a multi-frame encoder's (data, offsets) pair."""
    data, off = parts
    return [data[off[f]: off[f + 1]] for f in range(len(off) - 1)]


def dod_compress_frames(ts_flat, counts) -> list:
    return _frames(dod_compress_parts(ts_flat, counts))


def gorilla_compress_frames(vals_flat, counts) -> list:
    return _frames(gorilla_compress_parts(vals_flat, counts))


@given(st.lists(I32, max_size=300))
@settings(max_examples=200, deadline=None)
def test_gorilla_roundtrip(vals):
    arr = np.array(vals, dtype=np.int64)
    assert gorilla_decompress(gorilla_compress(arr)).tolist() == vals


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=300))
@settings(max_examples=200, deadline=None)
def test_dod_roundtrip_arbitrary(ts):
    ts = sorted(ts)
    arr = np.array(ts, dtype=np.int64)
    assert dod_decompress(dod_compress(arr)).tolist() == ts


def test_dod_dense_series_compresses_to_about_one_bit():
    """Gap-filled dense positions: after the first two points every
    timestamp must cost ~1 bit (the whole point of delta-of-delta)."""
    ts = np.arange(10_000, dtype=np.int64)
    frame = dod_compress(ts)
    # 1B magic + 4B n + 8B t0 + ~2B first dod + n/8 bytes of '0' bits
    assert len(frame) < 1 + 4 + 8 + 2 + 10_000 // 8 + 2
    assert dod_decompress(frame).tolist() == ts.tolist()


def test_gorilla_constant_series_one_bit_per_point():
    vs = np.full(10_000, 123456, dtype=np.int64)
    frame = gorilla_compress(vs)
    assert len(frame) < 1 + 4 + 8 + 10_000 // 8 + 2
    assert gorilla_decompress(frame).tolist() == vs.tolist()


def test_legacy_v0_frames_rejected_loudly():
    """A pre-magic (round-3) frame starts with n's top byte (0x00) — every
    decoder entry point must raise, never silently desync (ADVICE r03)."""
    import pytest

    from engine.compression import (
        dod_decompress_many,
        gorilla_decompress_many,
    )

    legacy = dod_compress(np.arange(5, dtype=np.int64))[1:]  # strip magic
    for fn in (dod_decompress, gorilla_decompress):
        with pytest.raises(ValueError, match="magic"):
            fn(legacy)
    for fn in (dod_decompress_many, gorilla_decompress_many):
        with pytest.raises(ValueError, match="magic"):
            fn([legacy])


def test_empty_and_singleton():
    for arr in ([], [42], [-(2**31)], [2**31 - 1]):
        a = np.array(arr, dtype=np.int64)
        assert gorilla_decompress(gorilla_compress(a)).tolist() == arr
        assert dod_decompress(dod_compress(np.abs(a))).tolist() == np.abs(a).tolist()


def test_spark_attach_and_decompress_roundtrip(spark, tokens_df, token_rows):
    """End-to-end: the fused 1m kernel compresses per (doc_id, 1m bucket)
    on the full fixture (int32 extremes included), serve_raw_points'
    mapInArrow pass reads the payloads back as flat (doc_id, t, v) points,
    and they equal the raw non-null gap-filled points — token-array
    equality (B:15) — with each bucket serving exactly its cnt points."""
    from collections import Counter

    from engine import oracle
    from engine.fused import fused_rollup_1m
    from engine.query import serve_raw_points

    r1m = fused_rollup_1m(tokens_df).cache()
    got = sorted(tuple(r) for r in serve_raw_points(r1m).collect())
    want = sorted(
        (row["doc_id"], t, v)
        for row in token_rows
        for t, v in enumerate(oracle.gap_fill_series(row["tokens"], "ffill"))
        if v is not None
    )
    assert got == want and len(got) > 0
    cnt = {
        (r["doc_id"], r["bucket"]): r["cnt"]
        for r in r1m.where("cnt > 0").select("doc_id", "bucket", "cnt").collect()
    }
    assert Counter((d, t // 60) for d, t, _ in got) == cnt
    r1m.unpersist()


def test_vectorized_many_byte_identical_to_sequential():
    """The hot-path multi-frame encoders must produce BYTE-IDENTICAL frames
    to the sequential references, across step patterns, value ranges
    (incl. int64 extremes), and empty/singleton frames."""
    rng = np.random.default_rng(7)
    for trial in range(60):
        nf = int(rng.integers(1, 12))
        counts = rng.integers(0, 40, nf)
        ts_frames, v_frames = [], []
        for c in counts:
            c = int(c)
            steps = rng.choice([1, 1, 1, 2, 60, 5000, int(1e10)], size=max(c, 1))[: max(c - 1, 0)]
            t0 = int(rng.integers(-(2**40), 2**40))
            ts = (
                np.concatenate(([t0], t0 + np.cumsum(steps)))
                if c
                else np.empty(0, np.int64)
            )
            ts_frames.append(ts.astype(np.int64)[:c])
            kind = int(rng.integers(0, 4))
            if kind == 0:
                v = rng.integers(0, 50000, c)
            elif kind == 1:
                v = np.full(c, int(rng.integers(-(2**62), 2**62)))
            elif kind == 2:
                v = rng.integers(-(2**63), 2**63, c, dtype=np.int64)
            else:
                v = rng.integers(0, 3, c)
            v_frames.append(v.astype(np.int64))
        ts_flat = np.concatenate(ts_frames)
        v_flat = np.concatenate(v_frames)
        many_t = dod_compress_frames(ts_flat, counts)
        many_v = gorilla_compress_frames(v_flat, counts)
        for f in range(nf):
            assert many_t[f] == dod_compress(ts_frames[f])
            assert many_v[f] == gorilla_compress(v_frames[f])
            assert (dod_decompress(many_t[f]) == ts_frames[f]).all()
            assert (gorilla_decompress(many_v[f]) == v_frames[f]).all()
        # the transposed many-decoders must invert the many-encoders exactly
        dt_flat, dt_counts = dod_decompress_many(many_t)
        dv_flat, dv_counts = gorilla_decompress_many(many_v)
        assert dt_counts.tolist() == counts.tolist() == dv_counts.tolist()
        assert (dt_flat == ts_flat).all()
        assert (dv_flat == v_flat).all()


@given(
    st.lists(
        st.lists(I32, max_size=60).map(sorted),
        max_size=12,
    )
)
@settings(max_examples=60, deadline=None)
def test_many_roundtrip_property(frame_vals):
    """Property form of the multi-frame pipeline: for ANY list of frames
    (any lengths incl. empty, any int32 values), encode_many |> decode_many
    is the identity on (flat, counts) — both codecs (timestamps must
    ascend, so the dod side sorts and offsets each frame)."""
    counts = np.array([len(f) for f in frame_vals], dtype=np.int64)
    vflat = (
        np.concatenate([np.asarray(f, np.int64) for f in frame_vals])
        if frame_vals and counts.sum()
        else np.empty(0, np.int64)
    )
    tflat = (
        np.concatenate(
            [np.asarray(sorted(2**31 + v for v in f), np.int64) for f in frame_vals]
        )
        if frame_vals and counts.sum()
        else np.empty(0, np.int64)
    )
    dv, cv = gorilla_decompress_many(gorilla_compress_frames(vflat, counts))
    dt, ct = dod_decompress_many(dod_compress_frames(tflat, counts))
    assert cv.tolist() == counts.tolist() == ct.tolist()
    assert dv.tolist() == vflat.tolist()
    assert dt.tolist() == tflat.tolist()


def test_many_decoders_straggler_tail_and_mixed_lengths():
    """Mix of many short frames + a few very long ones exercises both the
    vectorized rounds and the sequential straggler tail (_TAIL_MIN)."""
    rng = np.random.default_rng(42)
    counts = np.concatenate(
        [rng.integers(0, 8, 200), [5000, 3000], rng.integers(0, 60, 50)]
    ).astype(np.int64)
    ts_frames, v_frames = [], []
    for c in counts:
        c = int(c)
        steps = rng.choice([1, 1, 2, 60], size=max(c - 1, 0))
        ts = np.concatenate(([7], 7 + np.cumsum(steps)))[:c].astype(np.int64)
        ts_frames.append(ts)
        v_frames.append(rng.integers(-(2**40), 2**40, c).astype(np.int64))
    ts_flat = np.concatenate(ts_frames) if len(ts_frames) else np.empty(0, np.int64)
    v_flat = np.concatenate(v_frames)
    ft = dod_compress_frames(ts_flat, counts)
    fv = gorilla_compress_frames(v_flat, counts)
    dt, ct = dod_decompress_many(ft)
    dv, cv = gorilla_decompress_many(fv)
    assert ct.tolist() == counts.tolist() == cv.tolist()
    assert (dt == ts_flat).all()
    assert (dv == v_flat).all()


def _poisoned_1m(tokens_df):
    """A cached 1m tier with payloads, a copy of it whose ts_dod frame of
    one non-empty (doc_id, bucket) row has its magic byte flipped (legacy-
    looking: must quarantine), that victim row, and the gap-filled points
    the tier was built from, as (doc_id, t, v) tuples."""
    from pyspark.sql import functions as F

    from engine import oracle
    from engine.fused import fused_rollup_1m

    filled = [
        (r["doc_id"], t, v)
        for r in tokens_df.select("doc_id", "tokens").collect()
        for t, v in enumerate(oracle.gap_fill_series(list(r["tokens"])))
        if v is not None
    ]
    r1m = fused_rollup_1m(tokens_df).cache()
    victim = r1m.where("cnt > 0").select("doc_id", "bucket").first()
    poisoned = r1m.withColumn(
        "ts_dod",
        F.when(
            (F.col("doc_id") == victim["doc_id"])
            & (F.col("bucket") == victim["bucket"]),
            F.concat(F.lit(b"\x00"), F.expr("substring(ts_dod, 2)")),
        ).otherwise(F.col("ts_dod")),
    )
    return r1m, poisoned, victim, filled


def test_raw_points_quarantine_mode(spark, tokens_df):
    """serve_raw_points' single decode pass keeps on_error='null': the
    poisoned bucket serves no points, every other bucket serves exactly
    its gap-filled source points, and strict mode still fails loudly."""
    import pytest

    from engine.query import serve_raw_points

    r1m, poisoned, victim, filled = _poisoned_1m(tokens_df)

    with pytest.raises(Exception, match="magic"):
        serve_raw_points(poisoned).collect()

    got = sorted(
        tuple(r) for r in serve_raw_points(poisoned, on_error="null").collect()
    )
    want = sorted(
        p for p in filled
        if (p[0], p[1] // 60) != (victim["doc_id"], victim["bucket"])
    )
    assert got == want and len(got) > 0
    r1m.unpersist()


def test_raw_points_count_mismatch_rejected(spark):
    """A payload row whose ts_dod and v_gorilla frames decode to different
    point counts is corrupt: strict mode raises, and 'null' quarantines
    the row (it serves no points, where a zip would pad (t, NULL) points)
    while the healthy row still serves exactly."""
    import pytest

    from engine.query import serve_raw_points

    ts = np.arange(60, 66, dtype=np.int64)
    df = spark.createDataFrame(
        [
            ("ok", 1, 6, dod_compress(ts), gorilla_compress(ts * 10)),
            ("short_v", 1, 6, dod_compress(ts), gorilla_compress(ts[:4] * 10)),
        ],
        "doc_id string, bucket long, cnt long, ts_dod binary, v_gorilla binary",
    )

    with pytest.raises(Exception, match="decodes to 6 points but v_gorilla to 4"):
        serve_raw_points(df).collect()

    got = sorted(tuple(r) for r in serve_raw_points(df, on_error="null").collect())
    assert got == [("ok", int(t), int(t) * 10) for t in ts]


def test_truncated_frames_detected_not_silently_misread():
    """Overrun validation (round 5): a frame with a valid magic whose
    encoded bits were truncated must RAISE from the multi-frame decoders —
    in the concat buffer the decode would otherwise run into the NEXT
    frame's bits (or the zero padding) and return garbage points with no
    exception, a regression vs the sequential per-frame path."""
    import pytest

    from engine.compression import (
        dod_decompress_many,
        gorilla_decompress_many,
    )

    ts = np.arange(0, 180, 3, dtype=np.int64)  # 60 points, ~1 bit/point tail
    vals = np.full(60, 123456789, dtype=np.int64)
    good_t = dod_compress(ts)
    good_v = gorilla_compress(vals)
    trunc_t = good_t[:-2]  # keeps the 5-byte header + passes the count bound
    trunc_v = good_v[:-2]

    # bad frame mid-batch (donor bits follow) and bad frame LAST (buffer
    # end follows) both raise, straggler path (< _TAIL_MIN frames)
    for batch in ([trunc_t, good_t], [good_t, trunc_t]):
        with pytest.raises(ValueError, match="truncated|corrupt"):
            dod_decompress_many(batch)
    for batch in ([trunc_v, good_v], [good_v, trunc_v]):
        with pytest.raises(ValueError, match="truncated|corrupt"):
            gorilla_decompress_many(batch)

    # vectorized-rounds path (>= _TAIL_MIN active frames) detects too
    with pytest.raises(ValueError, match="truncated|corrupt"):
        dod_decompress_many([good_t] * 30 + [trunc_t] + [good_t] * 30)
    with pytest.raises(ValueError, match="truncated|corrupt"):
        gorilla_decompress_many([good_v] * 30 + [trunc_v] + [good_v] * 30)

    # sequential single-frame references still raise on the same frames
    with pytest.raises((ValueError, IndexError)):
        dod_decompress(trunc_t)
    with pytest.raises((ValueError, IndexError)):
        gorilla_decompress(trunc_v)


def test_corrupt_count_rejected_before_allocation():
    """A forged 32-bit point count that cannot fit the frame's byte length
    is rejected up front (>= 1 bit per point after the header) — otherwise
    a single corrupt header would allocate count*8 bytes before failing."""
    import pytest

    from engine.compression import (
        DOD_MAGIC,
        GOR_MAGIC,
        dod_decompress_many,
        gorilla_decompress_many,
    )

    huge_t = bytes([DOD_MAGIC]) + (2**31 - 1).to_bytes(4, "big") + b"\x00" * 8
    huge_v = bytes([GOR_MAGIC]) + (2**31 - 1).to_bytes(4, "big") + b"\x00" * 8
    with pytest.raises(ValueError, match="claims"):
        dod_decompress_many([huge_t])
    with pytest.raises(ValueError, match="claims"):
        gorilla_decompress_many([huge_v])
    with pytest.raises(ValueError, match="claims"):
        dod_decompress(huge_t)
    with pytest.raises(ValueError, match="claims"):
        gorilla_decompress(huge_v)


def test_truncated_frame_quarantined_in_null_mode():
    """_decode_frames with on_error='null': a truncated frame in the batch
    is quarantined (ok False, zero points) while every healthy frame
    (including ones AFTER the bad one) still decodes exactly."""
    from engine.compression import _decode_frames

    ts = np.arange(0, 180, 3, dtype=np.int64)
    good = dod_compress(ts)
    trunc = good[:-2]
    flat, counts, ok = _decode_frames(
        [good, trunc, good], dod_decompress_many, dod_decompress, "null"
    )
    assert ok.tolist() == [True, False, True]
    assert counts.tolist() == [ts.size, 0, ts.size]
    assert flat.tolist() == ts.tolist() * 2


def test_far_overrun_raises_valueerror_not_indexerror():
    """Code-review repro (round 5): a WIDE frame (64-bit payloads) whose
    count passes the byte-length bound but is truncated hard overruns far
    past the buffer pad. The per-round gate must convert that into the
    diagnostic ValueError on the vectorized path too — previously the last
    frame leaked a raw numpy IndexError out of _read_bits_vec."""
    import pytest

    from engine.compression import (
        dod_decompress_many,
        gorilla_decompress_many,
    )

    rng = np.random.default_rng(3)
    wide_t = dod_compress(
        np.cumsum(rng.integers(-(2**40), 2**40, 1000)).astype(np.int64)
    )
    wide_v = gorilla_compress(
        rng.integers(-(2**62), 2**62, 1000).astype(np.int64)
    )
    assert len(wide_t) > 6000 and len(wide_v) > 6000
    # vectorized path: >= _TAIL_MIN active frames, all overrunning far
    with pytest.raises(ValueError, match="truncated|corrupt"):
        dod_decompress_many([wide_t[:4000]] * 30)
    with pytest.raises(ValueError, match="truncated|corrupt"):
        gorilla_decompress_many([wide_v[:4000]] * 30)
    # straggler path: single wide truncated frame LAST in the buffer
    good = dod_compress(np.arange(0, 180, 3, dtype=np.int64))
    with pytest.raises(ValueError, match="truncated|corrupt"):
        dod_decompress_many([good] * 2 + [wide_t[:4000]])
    goodv = gorilla_compress(np.full(60, 5, dtype=np.int64))
    with pytest.raises(ValueError, match="truncated|corrupt"):
        gorilla_decompress_many([goodv] * 2 + [wide_v[:4000]])

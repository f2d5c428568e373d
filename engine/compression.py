"""C1-C3: delta-of-delta timestamp + Gorilla XOR value compression
(SURVEY.md §2.5; BASELINE.json:6 "delta-of-delta timestamp and Gorilla XOR
value compression inside vectorized Arrow UDFs").

Scheme follows the public Gorilla design (Pelkonen et al., "Gorilla: A
Fast, Scalable, In-Memory Time Series Database", VLDB 2015), adapted to
positional token streams:

  - One frame compresses the NON-NULL (t, v) points of one (doc_id, bucket)
    group, t ascending. Nulls are simply absent points — the t delta stream
    encodes the gap, so no presence bitmap is needed.
  - Every frame starts with ONE MAGIC/VERSION BYTE (0xD1 for ts_dod, 0xA1
    for v_gorilla, both meaning format v1 — the round-3 window-rule variant
    below). Decoders FAIL LOUDLY on any other first byte. Round-3 and
    earlier payloads carry no magic (their first byte is the top byte of
    u32 n, i.e. 0x00 for every realistic n), so a legacy frame is reliably
    rejected instead of silently desyncing; legacy v0 payloads must be
    rewritten (re-run the rollup epoch) — there is no v0 reader.
  - ts_dod frame:  u8 magic | u32 n | t0 as 64 bits | per point: dod = d_i - d_{i-1}
    (d_0 := 0) encoded with the paper's bucket prefixes
        '0'                      dod == 0
        '10'   + 7  bits         dod in [-63, 64]       (stored dod+63)
        '110'  + 9  bits         dod in [-255, 256]     (stored dod+255)
        '1110' + 12 bits         dod in [-2047, 2048]   (stored dod+2047)
        '1111' + 64 bits         otherwise (two's complement)
    Gap-filled series have d == 1 everywhere, so after the first two points
    every timestamp costs 1 bit.
  - v_gorilla frame: u8 magic | u32 n | v0 as 64 bits | per point: x = u64(v) XOR
    u64(prev):
        '0'                      x == 0
        '10' + meaningful bits   x fits the previous window (see below)
        '11' + 6 bits leading + 6 bits (length-1) + meaningful bits
    (6-bit fields, not the paper's 5/6: our values are 64-bit lanes.)
    Window rule (round-3 DELIBERATE variant of the paper): the reuse
    window is the ACTUAL (leading, trailing) zero count of the PREVIOUS
    NON-ZERO XOR — not the last '11' control block. The paper's rule
    makes the control state a sequential fold over branch decisions; this
    rule is a pure function of the xor sequence itself, so the whole
    encoder vectorizes (prefix-scan for "previous non-zero xor", then
    elementwise branch selection). The decoder recomputes the same window
    from each decoded xor. Compression is within a control bit of the
    paper's on our integer streams; the format is engine-internal (both
    ends below, plus engine/oracle.py, share it).

This module is THE single implementation: engine/oracle.py and the Spark
kernels both call compress/decompress below, so the roundtrip property
(decompress(compress(x)) == x, §5.3) is tested once and holds everywhere.
Two encoder shapes exist per codec and are byte-identical (pinned by
tests/test_compression.py):
  - ``*_compress(frame)``: readable sequential reference for ONE frame;
  - ``*_compress_parts(flat, counts)``: the hot path — one flat array
    holding MANY frames, all arithmetic and the bit-packing fully
    vectorized (entry streams + reduceat scatter-OR into u64 words),
    returned as one contiguous ``(data, offsets)`` pair: the Arrow binary
    column layout, with no Python-level iteration per frame. This is what
    "compression inside vectorized Arrow UDFs" (BASELINE.json:6) demands
    at 10^12-sequence scale: per-POINT Python is gone.

The READ path has the same two shapes (round 4): ``*_decompress(frame)``
sequential reference, and ``*_decompress_many(frames)`` — a TRANSPOSED
vectorized decode: round k decodes point index k of EVERY still-active
frame in a handful of NumPy gathers (a bitstream is sequential per frame,
but the frames of one Arrow batch are independent — so the loop runs over
point INDEX, not points, and its trip count is max frame length amortized
over the whole batch). A short straggler tail (< _TAIL_MIN active frames)
finishes on the sequential bit-reader so one long frame never degrades to
near-scalar NumPy rounds.
"""

from __future__ import annotations

import numpy as np

# Frame magic/version bytes (module docstring): v1 = the round-3
# window-rule variant. Legacy (round-3 and earlier) frames have no magic —
# their first byte is n's top byte (0x00) — and are rejected loudly.
DOD_MAGIC = 0xD1
GOR_MAGIC = 0xA1

# Transposed decoders hand the last few straggler frames to the sequential
# bit-reader once fewer than this many frames remain active (below it, the
# fixed ~us cost of each NumPy round exceeds per-point Python).
_TAIL_MIN = 24


def _bad_magic(got: int, want: int, name: str) -> ValueError:
    return ValueError(
        f"{name} frame magic mismatch: got 0x{got:02X}, want 0x{want:02X}. "
        "A 0x00 first byte means a legacy v0 (pre-magic) payload — v0 "
        "frames cannot be read by this engine version; rewrite them by "
        "re-running the rollup epoch (see module docstring)."
    )


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def bytes(self) -> bytes:
        if self.nbits:
            return bytes(self.buf) + bytes([(self.acc << (8 - self.nbits)) & 0xFF])
        return bytes(self.buf)


class _BitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, bit_offset: int = 0) -> None:
        self.data = data
        self.pos = bit_offset

    def read(self, nbits: int) -> int:
        out = 0
        pos = self.pos
        remaining = nbits
        while remaining:
            byte = self.data[pos >> 3]
            avail = 8 - (pos & 7)
            take = min(avail, remaining)
            shift = avail - take
            out = (out << take) | ((byte >> shift) & ((1 << take) - 1))
            pos += take
            remaining -= take
        self.pos = pos
        return out


def _to_signed64(x: int) -> int:
    return x - (1 << 64) if x >= (1 << 63) else x


# ---------------------------------------------------------------------------
# C1: delta-of-delta timestamps
# ---------------------------------------------------------------------------

_DOD_BUCKETS = ((64, 63, 7, 0b10, 2), (256, 255, 9, 0b110, 3), (2048, 2047, 12, 0b1110, 4))


def dod_compress(ts: np.ndarray) -> bytes:
    """C1 kernel: int64 timestamps (ascending) -> frame bytes."""
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    w = _BitWriter()
    w.write(DOD_MAGIC, 8)
    w.write(n, 32)
    if n == 0:
        return w.bytes()
    w.write(int(ts[0]) & ((1 << 64) - 1), 64)
    if n == 1:
        return w.bytes()
    deltas = np.diff(ts)
    dods = np.empty(n - 1, dtype=np.int64)
    dods[0] = deltas[0]  # d_0 := 0
    dods[1:] = np.diff(deltas)
    for dod in dods.tolist():
        if dod == 0:
            w.write(0, 1)
            continue
        for hi, off, nbits, prefix, plen in _DOD_BUCKETS:
            if -hi + 1 <= dod <= hi:
                w.write(prefix, plen)
                w.write(dod + off, nbits)
                break
        else:
            w.write(0b1111, 4)
            w.write(dod & ((1 << 64) - 1), 64)
    return w.bytes()


def dod_decompress(frame: bytes) -> np.ndarray:
    """C3 inverse of dod_compress (sequential reference)."""
    r = _BitReader(frame)
    magic = r.read(8)
    if magic != DOD_MAGIC:
        raise _bad_magic(magic, DOD_MAGIC, "ts_dod")
    n = r.read(32)
    if n > (len(frame) - 5) * 8:  # >= 1 bit per point after the header
        raise ValueError(
            f"ts_dod frame claims {n} points in {len(frame)} bytes — corrupt"
        )
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    t = _to_signed64(r.read(64))
    out[0] = t
    delta = 0
    for i in range(1, n):
        if r.read(1) == 0:
            dod = 0
        else:
            if r.read(1) == 0:
                dod = r.read(7) - 63
            elif r.read(1) == 0:
                dod = r.read(9) - 255
            elif r.read(1) == 0:
                dod = r.read(12) - 2047
            else:
                dod = _to_signed64(r.read(64))
        delta += dod
        t += delta
        out[i] = t
    return out


# ---------------------------------------------------------------------------
# C2: Gorilla XOR values
# ---------------------------------------------------------------------------


def _clz64(x: int) -> int:
    return 64 - x.bit_length() if x else 64


def _ctz64(x: int) -> int:
    return (x & -x).bit_length() - 1 if x else 64


def gorilla_compress(vs: np.ndarray) -> bytes:
    """C2 kernel: int64 values -> frame bytes (XOR chain on u64 lanes)."""
    vs = np.asarray(vs, dtype=np.int64)
    n = len(vs)
    w = _BitWriter()
    w.write(GOR_MAGIC, 8)
    w.write(n, 32)
    if n == 0:
        return w.bytes()
    u = vs.view(np.uint64)
    w.write(int(u[0]), 64)
    xors = (u[1:] ^ u[:-1]).tolist() if n > 1 else []
    lead_prev, trail_prev = -1, -1
    for x in xors:
        if x == 0:
            w.write(0, 1)
            continue
        lead, trail = _clz64(x), _ctz64(x)
        if lead_prev >= 0 and lead >= lead_prev and trail >= trail_prev:
            w.write(0b10, 2)
            w.write(x >> trail_prev, 64 - lead_prev - trail_prev)
        else:
            mlen = 64 - lead - trail
            w.write(0b11, 2)
            w.write(lead, 6)
            w.write(mlen - 1, 6)
            w.write(x >> trail, mlen)
        # window = actual shape of the last non-zero xor (module docstring)
        lead_prev, trail_prev = lead, trail
    return w.bytes()


def gorilla_decompress(frame: bytes) -> np.ndarray:
    """C3 inverse of gorilla_compress (sequential reference)."""
    r = _BitReader(frame)
    magic = r.read(8)
    if magic != GOR_MAGIC:
        raise _bad_magic(magic, GOR_MAGIC, "v_gorilla")
    n = r.read(32)
    if n > (len(frame) - 5) * 8:  # >= 1 bit per point after the header
        raise ValueError(
            f"v_gorilla frame claims {n} points in {len(frame)} bytes — corrupt"
        )
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.int64)
    cur = r.read(64)
    out[0] = cur
    lead_prev, trail_prev = -1, -1
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = cur
            continue
        if r.read(1) == 0:
            meaningful = r.read(64 - lead_prev - trail_prev)
            x = meaningful << trail_prev
        else:
            lead = r.read(6)
            mlen = r.read(6) + 1
            meaningful = r.read(mlen)
            x = meaningful << (64 - lead - mlen)
        # mirror the encoder: window follows the decoded xor's actual shape
        lead_prev, trail_prev = _clz64(x), _ctz64(x)
        cur ^= x
        out[i] = cur
    return out.view(np.int64)


# ---------------------------------------------------------------------------
# Vectorized multi-frame encoders (the hot path; byte-identical to the
# sequential references above — pinned by tests/test_compression.py)
# ---------------------------------------------------------------------------

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _bitlen_arr(x: np.ndarray) -> np.ndarray:
    """Vectorized bit_length over u64 (0 -> 0): split into 32-bit halves
    and read each half's bit length off its float64 exponent via frexp —
    every uint32 is exactly representable in float64, so the exponent IS
    the bit length (a direct 64-bit conversion would round values with
    > 53 significant bits up past a power of two and misreport by one).
    Endian-free and ~3x faster than the byte-lane argmax + LUT
    formulation it replaces (round-5 encoder profile: that argmax was the
    single hottest op outside _pack_frames). Round 7: when every value
    fits 32 bits (one max() probe — true for every token-stream xor,
    |v| < 2^18), the hi/lo split collapses to a single frexp pass."""
    if x.size == 0 or int(x.max()) <= 0xFFFFFFFF:
        _, e = np.frexp(x.astype(np.float64))
        return e  # frexp's native int32 — callers' arithmetic stays narrow
    hi = (x >> np.uint64(32)).astype(np.float64)
    lo = (x & np.uint64(0xFFFFFFFF)).astype(np.float64)
    _, ehi = np.frexp(hi)
    _, elo = np.frexp(lo)
    return np.where(hi > 0.0, ehi + np.int32(32), elo)


def _ctz_arr(x: np.ndarray) -> np.ndarray:
    """Vectorized count-trailing-zeros over u64 (0 -> 64, int32): isolate
    the lowest set bit (a power of two — exactly representable in float64
    for every k <= 63) and read its exponent via frexp; cheaper than a
    second bit_length pass."""
    low = x & (~x + np.uint64(1))  # isolate lowest set bit
    _, e = np.frexp(low.astype(np.float64))
    return np.where(x == 0, np.int32(64), e - np.int32(1))


def _cumsum0(a: np.ndarray) -> np.ndarray:
    return np.concatenate(([0], np.cumsum(a)))


def _scatter_or(words: np.ndarray, idx: np.ndarray, contrib: np.ndarray) -> None:
    """words[idx] |= contrib with idx SORTED (duplicates allowed): group by
    run boundaries and OR each run via reduceat — no per-element Python and
    no ufunc.at."""
    if idx.size == 0:
        return
    starts = np.concatenate(([0], np.flatnonzero(np.diff(idx)) + 1))
    words[idx[starts]] |= np.bitwise_or.reduceat(contrib, starts)


def _pack_frames(
    ev: np.ndarray, eb: np.ndarray, ec: np.ndarray
) -> tuple:
    """Bit-pack entry streams into ONE contiguous buffer + frame offsets.

    ``ev``/``eb`` are (value, nbits<=64) entry arrays laid out frame-major
    (MSB-first semantics identical to _BitWriter, zero-padded final byte);
    ``ec`` is entries-per-frame. All arithmetic is vectorized; each entry's
    bits land in at most two u64 words of one contiguous big-endian buffer
    where every frame starts byte-aligned. Returns ``(data, offsets)``:
    frame f's payload is ``data[offsets[f]:offsets[f+1]]`` — exactly the
    Arrow variable-length binary layout (guide §4.2: a binary column is one
    data buffer plus an offsets array), so the fused pipeline can emit the
    whole batch zero-copy instead of slicing per-frame Python bytes."""
    estarts = _cumsum0(ec)[:-1]
    fbits = np.add.reduceat(eb, estarts) if eb.size else np.zeros(0, np.int64)
    fbytes = (fbits + 7) // 8
    fboff = _cumsum0(fbytes)
    cb = _cumsum0(eb)[:-1]
    # global bit offset = frame's byte-aligned start + offset within frame;
    # folded into ONE per-entry repeat (the correction term is per-frame)
    goff = cb + np.repeat(fboff[:-1] * 8 - cb[estarts], ec)
    words = np.zeros(int(fboff[-1]) // 8 + 2, dtype=np.uint64)

    # INVARIANTS (callers): ev[k] < 2**eb[k] and eb[k] >= 1 — every encoder
    # emits a dense entry stream (no zero-width slot) of values already
    # confined to their declared widths (prefix|payload built per branch),
    # so no gather or defensive mask pass here; the per-frame byte-identity
    # fuzz vs the sequential encoders pins this.
    nb = eb.astype(np.uint64)
    w = goff >> 6
    o = (goff & 63).astype(np.uint64)
    end = o + nb
    spill = end > 64
    # main word holds the entry's high bits: left-align when it fits,
    # right-shift the spilling low bits away otherwise (one shift is 0)
    sh1 = np.where(spill, end - np.uint64(64), np.uint64(64) - end)
    shr = np.where(spill, sh1, np.uint64(0))
    shl = np.where(spill, np.uint64(0), sh1)
    _scatter_or(words, w, (ev >> shr) << shl)
    if spill.any():
        sv = ev[spill]
        sh2 = np.uint64(128) - end[spill]
        _scatter_or(words, w[spill] + 1, (sv << sh2) & _M64)
    return words.astype(">u8").tobytes(), fboff


def dod_compress_parts(ts_flat: np.ndarray, counts: np.ndarray) -> tuple:
    """C1 as one contiguous (data, offsets) pair — the Arrow binary-column
    layout; frame f is byte-identical to dod_compress of that frame."""
    return _pack_frames(*_dod_entries(ts_flat, counts))


def _dod_entries(ts_flat: np.ndarray, counts: np.ndarray) -> tuple:
    """Vectorized C1 over many frames: ``ts_flat`` holds every frame's
    ascending int64 timestamps back-to-back; ``counts`` the per-frame
    lengths. Byte-identical to dod_compress per frame.

    Round-7 layout: DENSE entry stream (the gorilla round-5 shape) — per
    frame 2 header slots (+1 first-value slot when n >= 1), ONE slot per
    later point, plus one 64-bit raw slot right after each '1111'-prefixed
    big dod. No zero-width slots exist (_pack_frames relies on it, with
    no entry gather), and every entry array is half the size of
    the old 2-slots-per-point frame-major layout. Point slots additionally
    default to (v=0, b=1) — the dod == 0 single-'0'-bit case that
    dominates regular streams — so the bucket classification and its
    scatters run only on the nonzero-dod lanes (gap boundaries). Output
    bytes are unchanged (pinned by the per-frame fuzz vs dod_compress)."""
    ts = np.asarray(ts_flat, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    nfr = counts.size
    starts = _cumsum0(counts)[:-1]
    n = total = int(counts.sum())
    nonempty = counts > 0
    extra_pf = np.zeros(nfr, dtype=np.int64)
    has_tail = total > int(nonempty.sum())  # any frame with >= 2 points
    if has_tail:
        # Round 7: dense over all n positions (the gorilla-entries shape):
        # deltas come from one full-size shifted diff, frame starts are
        # forced to delta == 0 by mask, and the first-delta rule
        # (predecessor := 0) falls out of the position test — start lanes
        # compute dod == 0 on their own (pos >= start+2 is false and
        # dall[start] == 0), so the sparse nonzero-lane classification
        # below never sees them.
        rep_starts = np.repeat(starts, counts)
        is_start = np.zeros(n, dtype=bool)
        is_start[starts[nonempty]] = True
        dall = np.empty(n, dtype=np.int64)
        if n:
            dall[0] = 0
            np.subtract(ts[1:], ts[:-1], out=dall[1:])
        dall[is_start] = 0
        prev_d = np.empty(n, dtype=np.int64)
        prev_d[0] = 0
        prev_d[1:] = dall[:-1]
        pos = np.arange(n)
        dod = np.where(pos >= rep_starts + 2, dall - prev_d, dall)
        v1 = np.zeros(n, dtype=np.uint64)
        b1 = np.full(n, 1, dtype=np.int64)
        big = np.zeros(n, dtype=bool)
        nz = np.flatnonzero(dod != 0)
        if nz.size:
            dnz = dod[nz]
            v1nz = np.zeros(nz.size, dtype=np.uint64)
            b1nz = np.full(nz.size, 1, dtype=np.int64)
            done = np.zeros(nz.size, dtype=bool)
            for hi, off, nbits, prefix, plen in _DOD_BUCKETS:
                m = (~done) & (dnz >= -hi + 1) & (dnz <= hi)
                v1nz[m] = (np.uint64(prefix) << np.uint64(nbits)) | (
                    (dnz[m] + off).astype(np.uint64)
                )
                b1nz[m] = plen + nbits
                done |= m
            bignz = ~done
            v1nz[bignz] = 0b1111
            b1nz[bignz] = 4
            v1[nz] = v1nz
            b1[nz] = b1nz
            big[nz[bignz]] = True
        # entry placement works on the non-start positions only
        i = np.flatnonzero(~is_start)
        # dense slot positions: segmented exclusive cumsum of big flags
        ext = big[i].astype(np.int64)
        fi = np.repeat(np.arange(nfr), np.maximum(counts - 1, 0))
        runstarts = np.concatenate(
            ([0], np.flatnonzero(fi[1:] != fi[:-1]) + 1)
        )
        extra_pf[fi[runstarts]] = np.add.reduceat(ext, runstarts)
        exc = np.cumsum(ext) - ext
        runlens = np.diff(np.concatenate((runstarts, [i.size])))
        exc_local = exc - np.repeat(exc[runstarts], runlens)
    ec = 2 + nonempty + np.maximum(counts - 1, 0) + extra_pf
    base = _cumsum0(ec)[:-1]
    ev = np.zeros(int(ec.sum()), dtype=np.uint64)
    eb = np.zeros(ev.size, dtype=np.int64)
    ev[base] = DOD_MAGIC
    eb[base] = 8
    ev[base + 1] = counts.astype(np.uint64)
    eb[base + 1] = 32
    ev[base[nonempty] + 2] = ts[starts[nonempty]].view(np.uint64)
    eb[base[nonempty] + 2] = 64
    if has_tail:
        e1 = base[fi] + 2 + (i - rep_starts[i]) + exc_local
        ev[e1], eb[e1] = v1[i], b1[i]
        sub = np.flatnonzero(big[i])
        if sub.size:
            e2 = e1[sub] + 1
            ev[e2] = dod[i].view(np.uint64)[sub]
            eb[e2] = 64
    return ev, eb, ec


def gorilla_compress_parts(vals_flat: np.ndarray, counts: np.ndarray) -> tuple:
    """C2 as one contiguous (data, offsets) pair — the Arrow binary-column
    layout; frame f is byte-identical to gorilla_compress of that frame."""
    return _pack_frames(*_gorilla_entries(vals_flat, counts))


def _gorilla_entries(vals_flat: np.ndarray, counts: np.ndarray) -> tuple:
    """Vectorized C2 over many frames (format in module docstring).
    Byte-identical to gorilla_compress per frame: the previous-non-zero-xor
    window is a prefix scan clamped at frame starts, so every branch
    decision is elementwise.

    Round-5 layout: with slot fusion, a point needs a SECOND slot only
    when prefix+payload exceed 64 bits (a fresh window payload > 50 bits —
    rare on real token streams), so the entry stream is laid out DENSE:
    per frame 2 header slots (+1 first-value slot when n >= 1), one slot
    per later point, plus one overflow slot right after each unfused
    point. No zero-width slots exist, which _pack_frames relies on (no
    entry gather); slot positions come from a segmented exclusive
    cumsum of the overflow flags."""
    vs = np.asarray(vals_flat, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    u = vs.view(np.uint64)
    nfr = counts.size
    starts = _cumsum0(counts)[:-1]
    n = total = int(counts.sum())
    nonempty = counts > 0
    extra_pf = np.zeros(nfr, dtype=np.int64)
    has_tail = total > int(nonempty.sum())  # any frame with >= 2 points
    if has_tail:
        # Round 7: the branch logic runs DENSE over all n positions — the
        # xor stream is one full-size shifted XOR (no index gathers), frame
        # starts are forced to xor == 0 by mask, and every select chain
        # below produces garbage on start lanes that the final entry
        # scatter (which only touches non-start positions i) never reads.
        # ~2% more lanes than the old i-gathered layout, ~7 fewer gathers.
        rep_starts = np.repeat(starts, counts)
        is_start = np.zeros(n, dtype=bool)
        is_start[starts[nonempty]] = True
        xall = np.empty(n, dtype=np.uint64)
        if n:
            xall[0] = 0
            np.bitwise_xor(u[1:], u[:-1], out=xall[1:])
        xall[is_start] = 0
        pos = np.arange(n)
        # position of the last non-zero xor at-or-before each position;
        # frame starts hold no xor, so clamping to >= start+1 == same frame
        nzpos = np.where(xall != 0, pos, -1)
        np.maximum.accumulate(nzpos, out=nzpos)
        prevnz = np.empty(n, dtype=np.int64)
        prevnz[0] = -1
        prevnz[1:] = nzpos[:-1]
        has_prev = prevnz >= rep_starts + 1
        narrow = int(xall.max()) <= 0xFFFFFFFF if n else True
        # one lead/trail pass over the n-sized xor array, read through pidx
        # for the "previous non-zero xor" window (round 4 halving kept)
        leadall = 64 - _bitlen_arr(xall)
        trailall = _ctz_arr(xall)
        pidx = np.maximum(prevnz, 0)
        plead = leadall[pidx]
        ptrail = trailall[pidx]
        zero = xall == 0
        fits = has_prev & ~zero & (leadall >= plead) & (trailall >= ptrail)
        # int32 lanes throughout the width arithmetic (frexp's native
        # exponent dtype) — half the memory traffic of the old int64
        # chain; only the final packed entry values widen to uint64
        pml = np.int32(64) - plead - ptrail    # '10' payload width
        ml = np.int32(64) - leadall - trailall  # '11' payload width
        # SLOT FUSION: emit prefix+payload as ONE entry —
        # ((prefix << pbits) | payload, prefixbits + pbits) packs to the
        # same bits as the two consecutive runs — whenever the pair fits
        # in 64 bits. Branch values are built with flat selects, garbage
        # lanes masked out by the final selects (e.g. ml is negative on
        # zero-xor lanes).
        hdr = (
            np.uint64(0b11 << 12)
            | (leadall.astype(np.uint64) << np.uint64(6))
            | ((ml - 1) & 63).astype(np.uint64)
        )
        pbits = np.where(fits, pml, ml)                      # payload width
        payload = xall >> (np.where(fits, ptrail, trailall) & np.int32(63)).astype(np.uint64)
        pfx = np.where(fits, np.uint64(0b10), hdr)
        pfxbits = np.where(fits, np.int32(2), np.int32(14))
        bc = pfxbits + pbits
        # entry placement works on the non-start positions only
        i = np.flatnonzero(~is_start)
        if narrow:
            # Round 7 fast path: every xor fits 32 bits (true for token
            # streams, |v| < 2^18), so lead >= 32 on non-zero lanes, both
            # payload widths are <= 32 and bc <= 14 + 32 = 46 < 64 — the
            # overflow slot can NEVER be needed. Skip the overflow select
            # and the whole segmented-cumsum slot machinery (extra_pf
            # stays 0); entry == fused prefix|payload always.
            v1 = np.where(
                zero, np.uint64(0),
                (pfx << (pbits & 63).astype(np.uint64)) | payload,
            )
            b1 = np.where(zero, 1, bc)
            overflow = None
            fi = np.repeat(np.arange(nfr), np.maximum(counts - 1, 0))
            exc_local = 0
        else:
            overflow = ~zero & (bc > 64)
            v1 = np.where(
                zero,
                np.uint64(0),
                np.where(overflow, pfx, (pfx << (pbits & 63).astype(np.uint64)) | payload),
            )
            b1 = np.where(zero, 1, np.where(overflow, pfxbits, bc))
            # dense slot positions: segmented exclusive cumsum of overflows
            ext = overflow[i].astype(np.int64)
            fi = frame_of_i = np.repeat(np.arange(nfr), np.maximum(counts - 1, 0))
            runstarts = np.concatenate(
                ([0], np.flatnonzero(frame_of_i[1:] != frame_of_i[:-1]) + 1)
            )
            extra_pf[fi[runstarts]] = np.add.reduceat(ext, runstarts)
            exc = np.cumsum(ext) - ext
            runlens = np.diff(np.concatenate((runstarts, [i.size])))
            exc_local = exc - np.repeat(exc[runstarts], runlens)
    ec = 2 + nonempty + np.maximum(counts - 1, 0) + extra_pf
    base = _cumsum0(ec)[:-1]
    ev = np.zeros(int(ec.sum()), dtype=np.uint64)
    eb = np.zeros(ev.size, dtype=np.int64)
    ev[base] = GOR_MAGIC
    eb[base] = 8
    ev[base + 1] = counts.astype(np.uint64)
    eb[base + 1] = 32
    ev[base[nonempty] + 2] = u[starts[nonempty]]
    eb[base[nonempty] + 2] = 64
    if has_tail:
        e1 = base[fi] + 2 + (i - rep_starts[i]) + exc_local
        ev[e1], eb[e1] = v1[i], b1[i]
        if overflow is not None:
            sub = np.flatnonzero(overflow[i])
            if sub.size:
                e2 = e1[sub] + 1
                ev[e2] = payload[i][sub]
                eb[e2] = pbits[i][sub]
    return ev, eb, ec


# ---------------------------------------------------------------------------
# Vectorized multi-frame decoders (the C3 hot path — round 4; transposed
# decode, see module docstring; bit-exact vs the sequential decoders, pinned
# by tests/test_compression.py)
# ---------------------------------------------------------------------------


def _concat_frames(frames: list, magic: int, name: str) -> tuple:
    """Concatenate frame byte strings into one big-endian u64 word buffer.

    Validates every frame's magic byte in one vectorized gather. Returns
    (words, buf, frame_bit_offsets, frame_end_bits); ``buf`` (the raw
    bytes) feeds the sequential straggler tail, ``words`` the vectorized
    rounds; ``frame_end_bits`` bounds each frame for the overrun check —
    in the concatenated buffer a decoder that runs off a truncated frame
    reads the NEXT frame's bits without any IndexError, so the callers
    must verify final positions against these ends. Padded so a 64-bit
    window read at any in-frame bit offset stays in bounds."""
    lens = np.fromiter((len(f) for f in frames), dtype=np.int64, count=len(frames))
    if lens.size and int(lens.min()) < 5:
        raise ValueError(f"{name} frame shorter than the 5-byte v1 header")
    boff = _cumsum0(lens)
    buf = b"".join(frames)
    barr = np.frombuffer(buf, dtype=np.uint8)
    firsts = barr[boff[:-1]]
    if (firsts != magic).any():
        bad = int(firsts[firsts != magic][0])
        raise _bad_magic(bad, magic, name)
    # 32 pad bytes: a truncated final frame may advance ~80 bits past the
    # buffer end before the per-round overrun check fires, and every
    # _read_bits_vec gather touches the word AFTER its window — 256 bits
    # of headroom keeps all of that in bounds
    pad = (-len(buf)) % 8 + 32
    words = np.frombuffer(buf + b"\x00" * pad, dtype=">u8").astype(np.uint64)
    return words, buf, boff[:-1] * 8, boff[1:] * 8


def _overrun(name: str, f: int) -> ValueError:
    return ValueError(
        f"{name} frame {f} is truncated or corrupt: decode consumed bits "
        "past the frame's encoded byte range. In a multi-frame batch this "
        "would silently read the next frame's bits; use on_error='null' "
        "to quarantine the bad frame instead."
    )


def _check_counts(counts: np.ndarray, lens: np.ndarray, name: str) -> None:
    """Reject frames whose 32-bit point count cannot fit their byte length
    (every point costs >= 1 bit after the 5-byte header) BEFORE sizing the
    output buffer — a corrupt count would otherwise allocate count*8 bytes
    (up to 32 GiB) and only then fail the overrun check."""
    bad = np.flatnonzero(counts > (lens - 5) * 8)
    if bad.size:
        f = int(bad[0])
        raise ValueError(
            f"{name} frame {f} header claims {int(counts[f])} points but "
            f"is only {int(lens[f])} bytes long — truncated or corrupt "
            "(use on_error='null' to quarantine)"
        )


def _read_bits_vec(words: np.ndarray, pos: np.ndarray, nbits) -> np.ndarray:
    """Gather ``nbits[i]`` bits (0..64) starting at absolute bit offset
    ``pos[i]`` — one 128-bit window per element, fully vectorized."""
    w = (pos >> 6).astype(np.int64)
    o = (pos & 63).astype(np.uint64)
    hi = (words[w] << o) & _M64
    lo = words[w + 1] >> ((np.uint64(64) - o) & np.uint64(63))
    window = hi | np.where(o == 0, np.uint64(0), lo)
    nb = np.asarray(nbits, dtype=np.uint64)
    shifted = window >> ((np.uint64(64) - nb) & np.uint64(63))
    return np.where(nb == 0, np.uint64(0), shifted)


def _dod_finish(buf: bytes, bitpos: int, t: int, delta: int,
                out: np.ndarray, o: int, m: int) -> int:
    """Sequential tail: decode the remaining ``m`` points of one ts_dod
    frame from mid-stream state (same branch structure as dod_decompress).
    Returns the final bit position for the caller's overrun check."""
    r = _BitReader(buf, bitpos)
    for _ in range(m):
        if r.read(1) == 0:
            dod = 0
        elif r.read(1) == 0:
            dod = r.read(7) - 63
        elif r.read(1) == 0:
            dod = r.read(9) - 255
        elif r.read(1) == 0:
            dod = r.read(12) - 2047
        else:
            dod = _to_signed64(r.read(64))
        delta += dod
        t += delta
        out[o] = t
        o += 1
    return r.pos


def dod_decompress_many(frames: list) -> tuple:
    """Vectorized C3 over many ts_dod frames -> (flat int64 points, counts).

    Transposed decode: round k decodes point index k of every frame with
    n > k in ~10 NumPy gathers; control-prefix classification is a 4-bit
    peek (reading past a short entry is harmless — only the bits the prefix
    dictates are consumed). Stragglers finish sequentially (_TAIL_MIN)."""
    nf = len(frames)
    if nf == 0:
        return np.empty(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    words, buf, fbit, fend = _concat_frames(frames, DOD_MAGIC, "ts_dod")
    pos = fbit + 8
    counts = _read_bits_vec(words, pos, np.full(nf, 32)).astype(np.int64)
    _check_counts(counts, (fend - fbit) // 8, "ts_dod")
    pos = pos + 32
    obase = _cumsum0(counts)[:-1]
    out = np.empty(int(counts.sum()), dtype=np.int64)
    t = np.zeros(nf, dtype=np.int64)
    delta = np.zeros(nf, dtype=np.int64)
    ne = np.flatnonzero(counts >= 1)
    t[ne] = _read_bits_vec(words, pos[ne], np.full(ne.size, 64)).view(np.int64)
    pos[ne] += 64
    out[obase[ne]] = t[ne]
    idx = np.flatnonzero(counts >= 2)
    k = 1
    while idx.size:
        # fail BEFORE this round's reads if any active frame already ran
        # past its end: keeps every vectorized gather within the concat
        # buffer's 128-bit pad (one round advances a frame <= ~80 bits),
        # so a truncated LAST frame raises the diagnostic ValueError here
        # instead of a raw IndexError out of _read_bits_vec
        over = pos[idx] > fend[idx]
        if over.any():
            raise _overrun("ts_dod", int(idx[over][0]))
        if idx.size < _TAIL_MIN:
            for f in idx.tolist():
                try:
                    pos[f] = _dod_finish(
                        buf, int(pos[f]), int(t[f]), int(delta[f]),
                        out, int(obase[f]) + k, int(counts[f]) - k)
                except IndexError:
                    # ran off the END of the concat buffer mid-frame
                    raise _overrun("ts_dod", f) from None
            break
        p = pos[idx]
        c4 = _read_bits_vec(words, p, np.full(idx.size, 4)).astype(np.int64)
        b0 = c4 < 8                      # '0'
        b1 = (c4 >> 2) == 0b10           # '10'   + 7
        b2 = (c4 >> 1) == 0b110          # '110'  + 9
        b3 = c4 == 0b1110                # '1110' + 12
        b4 = c4 == 0b1111                # '1111' + 64
        ctl = np.select([b0, b1, b2, b3, b4], [1, 2, 3, 4, 4])
        pbits = np.select([b0, b1, b2, b3, b4], [0, 7, 9, 12, 64])
        pv = _read_bits_vec(words, p + ctl, pbits).view(np.int64)
        dod = np.select([b0, b1, b2, b3, b4],
                        [0, pv - 63, pv - 255, pv - 2047, pv])
        pos[idx] = p + ctl + pbits
        delta[idx] += dod
        t[idx] += delta[idx]
        out[obase[idx] + k] = t[idx]
        k += 1
        idx = idx[counts[idx] > k]
    # every frame's final position must land inside its own byte range —
    # in the concat buffer an overrun reads the NEXT frame's bits without
    # any exception, so this is the only place truncation is detectable
    bad = np.flatnonzero(pos > fend)
    if bad.size:
        raise _overrun("ts_dod", int(bad[0]))
    return out, counts


def _gor_finish(buf: bytes, bitpos: int, cur: int, plead: int, ptrail: int,
                out_u: np.ndarray, o: int, m: int) -> int:
    """Sequential tail for one v_gorilla frame from mid-stream state.
    Returns the final bit position for the caller's overrun check."""
    r = _BitReader(buf, bitpos)
    for _ in range(m):
        if r.read(1) == 0:
            out_u[o] = cur
            o += 1
            continue
        if r.read(1) == 0:
            x = r.read(64 - plead - ptrail) << ptrail
        else:
            lead = r.read(6)
            mlen = r.read(6) + 1
            x = r.read(mlen) << (64 - lead - mlen)
        plead, ptrail = _clz64(x), _ctz64(x)
        cur ^= x
        out_u[o] = cur
        o += 1
    return r.pos


def gorilla_decompress_many(frames: list) -> tuple:
    """Vectorized C3 over many v_gorilla frames -> (flat int64, counts).

    Same transposed shape as dod_decompress_many; the per-frame reuse
    window (plead/ptrail of the last non-zero xor — module docstring) is
    per-frame STATE carried across rounds, updated only where x != 0,
    exactly mirroring the sequential decoder."""
    nf = len(frames)
    if nf == 0:
        return np.empty(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    words, buf, fbit, fend = _concat_frames(frames, GOR_MAGIC, "v_gorilla")
    pos = fbit + 8
    counts = _read_bits_vec(words, pos, np.full(nf, 32)).astype(np.int64)
    _check_counts(counts, (fend - fbit) // 8, "v_gorilla")
    pos = pos + 32
    obase = _cumsum0(counts)[:-1]
    out_u = np.empty(int(counts.sum()), dtype=np.uint64)
    cur = np.zeros(nf, dtype=np.uint64)
    plead = np.zeros(nf, dtype=np.int64)
    ptrail = np.zeros(nf, dtype=np.int64)
    ne = np.flatnonzero(counts >= 1)
    cur[ne] = _read_bits_vec(words, pos[ne], np.full(ne.size, 64))
    pos[ne] += 64
    out_u[obase[ne]] = cur[ne]
    idx = np.flatnonzero(counts >= 2)
    k = 1
    while idx.size:
        # same pre-round overrun gate as dod_decompress_many (see there)
        over = pos[idx] > fend[idx]
        if over.any():
            raise _overrun("v_gorilla", int(idx[over][0]))
        if idx.size < _TAIL_MIN:
            for f in idx.tolist():
                try:
                    pos[f] = _gor_finish(
                        buf, int(pos[f]), int(cur[f]), int(plead[f]),
                        int(ptrail[f]), out_u, int(obase[f]) + k,
                        int(counts[f]) - k)
                except IndexError:
                    raise _overrun("v_gorilla", f) from None
            break
        p = pos[idx]
        c2 = _read_bits_vec(words, p, np.full(idx.size, 2)).astype(np.int64)
        bz = c2 < 2          # '0'  : repeat
        bw = c2 == 2         # '10' : previous window
        bf = c2 == 3         # '11' : fresh window header (6+6)
        pml = np.where(bw, 64 - plead[idx] - ptrail[idx], 0)
        hdr = _read_bits_vec(words, p + 2, np.where(bf, 12, 0)).astype(np.int64)
        lead = hdr >> 6
        mlen = (hdr & 63) + 1
        pbits = np.select([bz, bw, bf], [0, pml, mlen])
        poff = np.select([bz, bw, bf], [1, 2, 14])
        payload = _read_bits_vec(words, p + poff, pbits)
        shift = np.select([bz, bw, bf],
                          [0, ptrail[idx], 64 - lead - mlen]).astype(np.uint64)
        x = np.where(bz, np.uint64(0), payload << shift)
        nz = x != np.uint64(0)
        sub = idx[nz]
        plead[sub] = 64 - _bitlen_arr(x[nz])
        ptrail[sub] = _ctz_arr(x[nz])
        cur[idx] ^= x
        out_u[obase[idx] + k] = cur[idx]
        pos[idx] = p + poff + pbits
        k += 1
        idx = idx[counts[idx] > k]
    bad = np.flatnonzero(pos > fend)
    if bad.size:
        raise _overrun("v_gorilla", int(bad[0]))
    return out_u.view(np.int64), counts


# ---------------------------------------------------------------------------
# Spark integration: the mapInArrow raw-point decode pass (the encoders
# run inside engine/fused.py)
# ---------------------------------------------------------------------------


def _decode_frames(frames: list, decoder, single, on_error: str) -> tuple:
    """Many frames -> (flat int64 points, per-frame counts, per-frame ok),
    via the vectorized multi-frame ``decoder``.

    ``on_error='null'``: if the batch decode raises (corrupt/legacy frame
    anywhere in the batch), fall back to decoding each frame alone through
    the sequential reference ``single`` and QUARANTINE the bad ones (ok
    False, zero points) instead of failing the batch — per-frame cost paid
    only on the (rare) poisoned batches."""
    try:
        flat, counts = decoder(frames)
        return flat, counts, np.ones(len(frames), dtype=bool)
    except Exception:
        if on_error != "null":
            raise
    parts = []
    for b in frames:
        try:
            parts.append(single(b))
        except Exception:
            parts.append(None)
    ok = np.array([p is not None for p in parts], dtype=bool)
    counts = np.array([0 if p is None else p.size for p in parts], dtype=np.int64)
    good = [p for p in parts if p is not None]
    flat = np.concatenate(good) if good else np.empty(0, dtype=np.int64)
    return flat, counts, ok


def decode_raw_points(payload_df, t0=None, t1=None, on_error: str = "raise"):
    """C3 as ONE mapInArrow pass: (doc_id, ts_dod, v_gorilla) rows -> flat
    (doc_id, t, v) raw points, trimmed to [t0, t1) (either end optional).

    Each payload is decoded exactly once, through the vectorized
    multi-frame decoders (dod_decompress_many / gorilla_decompress_many:
    one NumPy round per point index across the batch's frames); no array
    column, zip or explode is ever materialized, so Catalyst has no
    generator filter to duplicate below the projection (it did with arrays_zip + explode: two
    ArrowEvalPython nodes, each running both decoders). Rows with a NULL
    payload serve nothing.

    ``on_error``: 'raise' fails the query on any corrupt or legacy frame
    AND on a row whose two frames decode to different point counts (a
    zip would pad the shorter with NULLs and serve invented points);
    'null' quarantines such rows — they serve no points.
    """
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")
    lo = None if t0 is None else int(t0)
    hi = None if t1 is None else int(t1)

    def decode_batches(batches):
        import pyarrow as pa

        out_schema = pa.schema(
            [("doc_id", pa.string()), ("t", pa.int64()), ("v", pa.int64())]
        )
        for rb in batches:
            doc, ts, vg = rb.column(0), rb.column(1), rb.column(2)
            rows = np.flatnonzero(
                ts.is_valid().to_numpy(zero_copy_only=False)
                & vg.is_valid().to_numpy(zero_copy_only=False)
            )
            if rows.size == 0:
                continue
            take = pa.array(rows)
            t, tc, tok = _decode_frames(
                ts.take(take).to_pylist(), dod_decompress_many,
                dod_decompress, on_error,
            )
            v, vc, vok = _decode_frames(
                vg.take(take).to_pylist(), gorilla_decompress_many,
                gorilla_decompress, on_error,
            )
            ok = tok & vok
            uneven = ok & (tc != vc)
            if uneven.any() and on_error != "null":
                i = int(np.flatnonzero(uneven)[0])
                raise ValueError(
                    f"payload row of doc {doc[int(rows[i])].as_py()!r}: "
                    f"ts_dod decodes to {int(tc[i])} points but v_gorilla "
                    f"to {int(vc[i])} — corrupt (use on_error='null' to "
                    "quarantine)"
                )
            ok &= ~uneven
            t = t[np.repeat(ok, tc)]
            v = v[np.repeat(ok, vc)]
            src = np.repeat(rows[ok], tc[ok])
            keep = np.ones(t.size, dtype=bool)
            if lo is not None:
                keep &= t >= lo
            if hi is not None:
                keep &= t < hi
            if not keep.any():
                continue
            yield pa.RecordBatch.from_arrays(
                [doc.take(pa.array(src[keep])), pa.array(t[keep]),
                 pa.array(v[keep])],
                schema=out_schema,
            )

    return payload_df.select("doc_id", "ts_dod", "v_gorilla").mapInArrow(
        decode_batches, "doc_id string, t long, v long"
    )

"""Gorilla-style compression: delta-of-delta timestamps + XOR values.

From the published scheme (Pelkonen et al., VLDB 2015, "Gorilla: A
fast, scalable, in-memory time series database", §4.1), re-implemented
for int64 token values with fully vectorized NumPy bit packing — a
whole Arrow batch of series is encoded in one pass; no per-row Python.

Bit layout per block:
  header: first timestamp (t0) and first value (v0) live in typed
  columns next to the payload (FIXTURES.md F-5), so the payload holds
  only the 2nd..nth points:

  timestamps (delta-of-delta, dod = (t_i - t_{i-1}) - (t_{i-1} - t_{i-2});
  the first delta is encoded as a dod against delta0 = 0):
    dod == 0                  -> '0'
    dod in [-63, 64]          -> '10'   + 7 bits (zigzag)
    dod in [-255, 256]        -> '110'  + 9 bits
    dod in [-2047, 2048]      -> '1110' + 12 bits
    else                      -> '1111' + 64 bits raw

  values (xor = v_i ^ v_{i-1}, as uint64):
    xor == 0                  -> '0'
    else                      -> '1' + 6 bits (#leading zeros)
                                     + 6 bits (significant length - 1)
                                     + significant bits

(The original Gorilla reuses the previous leading/length window when it
still fits; we always emit the 13-bit control — a simpler, stateless
variant that vectorizes cleanly and costs <1 bit/point on typical token
streams. Decoding is therefore also stateless per point.)

For the engine's fixed 1-minute grids every dod is 0, so timestamps
cost 1 bit/point and values dominate.

Decoding: :func:`decode_batch_arrow` is the production decoder. It
reads a whole Arrow payload column (ragged point counts) in two
vectorized phases: a *walk* that only finds where each point starts
(on a fixed grid a point's bit length is one table lookup on its
14-bit prefix), then an *extract* that reads every dod and xor field
at once and rebuilds the series with ``cumsum`` / xor scans.
:func:`decode_block` is its serial certificate: a bit-by-bit reader
that shares no code with it, used by the tests to check it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# the five dod branches: control bits, their count, payload bits and
# the payload's offset (branch 4 stores the raw 64-bit dod)
_CTRL_VAL = np.array([0b0, 0b10, 0b110, 0b1110, 0b1111], dtype=np.uint64)
_CTRL_LEN = np.array([1, 2, 3, 4, 4], dtype=np.int64)
_PAY_LEN = np.array([0, 7, 9, 12, 64], dtype=np.int64)
_LO = np.array([0, -63, -255, -2047, 0], dtype=np.int64)


def _leading_zeros64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 via the float64
    exponent (frexp), with an exact-integer correction pass: a value
    whose top 53 bits round up gains one exponent (e.g. 2^60-1 rounds
    to 2^60), detected by ``x >> (e-1) == 0``; values with bit 63 set
    can round to 2^64 (e = 65), clamped back. 6 dense passes instead
    of the 18 of a shift-cascade — exact for every uint64."""
    f = x.astype(np.float64)
    _, e = np.frexp(f)
    e = e.astype(np.int64)
    over = ((e >= 1) & (e <= 64)
            & ((x >> np.minimum(e - 1, 63).astype(np.uint64)) == 0))
    e = np.minimum(e - over.astype(np.int64), 64)
    return np.where(x == 0, 64, 64 - e)


def _trailing_zeros64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-trailing-zeros for uint64 (0 -> 0). The
    isolated lowest set bit is an exact power of two, so its float64
    exponent needs no correction."""
    lsb = x & (~x + np.uint64(1))  # isolate lowest set bit
    _, e = np.frexp(lsb.astype(np.float64))
    return np.where(x == 0, 0, e.astype(np.int64) - 1)


def encode_block(ts: np.ndarray, values: np.ndarray) -> tuple[int, int, int, bytes]:
    """Encode one series. Returns (t0, v0, n, payload). Thin wrapper
    over :func:`encode_batch_arrow` (used by tests)."""
    t0, v0, n, payload = encode_batch_arrow(ts[None, :], values[None, :])
    return int(t0[0]), int(v0[0]), int(n[0]), payload[0].as_py()


def encode_batch_arrow(ts2d: np.ndarray, vals2d: np.ndarray,
                       chunk_rows: int = 1024):
    """Encode (rows, T) timestamp + value matrices into per-row blocks:
    ``(t0, v0, n, payload)`` with the payload column as ONE Arrow
    BinaryArray built zero-copy from the packed buffer + offsets
    (guide §4.2: a binary column is a data buffer plus offsets, so no
    per-row Python bytes objects and no ``pa.array(list)`` re-serialize
    — the dominant constant cost at millions of blocks per task)."""
    ts2d = np.asarray(ts2d, dtype=np.int64)
    vals2d = np.asarray(vals2d, dtype=np.int64)
    rows = vals2d.shape[0]
    t0s, v0s, ns, arrays = [], [], [], []
    for s in range(0, max(rows, 1), chunk_rows):
        a, b, c, buf, off = _encode_chunk(ts2d[s:s + chunk_rows],
                                          vals2d[s:s + chunk_rows])
        t0s.append(a)
        v0s.append(b)
        ns.append(c)
        if int(off[-1]) >= 2 ** 31:
            raise ValueError(
                f"encode_batch_arrow: chunk payload {int(off[-1])} bytes "
                f"overflows 32-bit Arrow binary offsets — lower chunk_rows")
        arrays.append(pa.Array.from_buffers(
            pa.binary(), len(c),
            [None, pa.py_buffer(np.ascontiguousarray(
                off.astype(np.int32)).tobytes()), pa.py_buffer(buf)]))
    payload = arrays[0] if len(arrays) == 1 else pa.concat_arrays(arrays)
    return (np.concatenate(t0s), np.concatenate(v0s),
            np.concatenate(ns), payload)


def _encode_chunk(ts2d: np.ndarray, vals2d: np.ndarray
                  ) -> tuple[np.ndarray, np.ndarray, np.ndarray, bytes,
                             np.ndarray]:
    """Encode one chunk of rows; returns (t0, v0, n, packed buffer,
    per-row byte offsets (len rows+1)).

    Entirely vectorized: classifies every point's field widths, computes
    exact per-point bit offsets, then assembles each FIELD as a uint64
    and scatter-ORs it into a big-endian word stream
    (``np.bitwise_or.at`` handles fields of different points landing in
    the same word) — a handful of word passes per field instead of one
    pass per BIT of the old bit-matrix scatter (~1.6x on token walks).
    """
    rows = vals2d.shape[0]
    t = vals2d.shape[1]
    t0 = ts2d[:, 0].copy()
    v0 = vals2d[:, 0].copy()
    n = np.full(rows, t, dtype=np.int64)
    if t == 1:
        return t0, v0, n, b"", np.zeros(rows + 1, dtype=np.int64)

    # --- timestamp dod fields ---
    deltas = np.diff(ts2d, axis=1)                       # (rows, t-1)
    prev_delta = np.concatenate([np.zeros((rows, 1), np.int64), deltas[:, :-1]], axis=1)
    dod = deltas - prev_delta

    # --- value xor fields ---
    xor = (vals2d[:, 1:] ^ vals2d[:, :-1]).view(np.uint64)
    lz = np.minimum(_leading_zeros64(xor), 63)           # 6-bit field
    tz = _trailing_zeros64(xor)
    nz = xor != 0
    siglen = np.where(nz, 64 - lz - tz, 1)               # meaningful bits
    sig = np.where(nz, xor >> tz.astype(np.uint64), np.uint64(0))

    # --- classify dod branches (0..4) ---
    branch = np.full(dod.shape, 4, dtype=np.int8)
    branch[(dod >= -2047) & (dod <= 2048)] = 3
    branch[(dod >= -255) & (dod <= 256)] = 2
    branch[(dod >= -63) & (dod <= 64)] = 1
    branch[dod == 0] = 0
    ctrln = _CTRL_LEN[branch]
    payn = _PAY_LEN[branch]
    val_n = 1 + np.where(nz, 12 + siglen, 0)

    # --- exact per-point bit offsets, direct scatter (no bit tensor) ---
    ptlen = ctrln + payn + val_n                          # (rows, t-1)
    row_bits = ptlen.sum(axis=1)
    row_bytes = (row_bits + 7) // 8
    byte_offsets = np.concatenate([[0], np.cumsum(row_bytes)])
    row_start = byte_offsets[:-1] * 8
    pt_start = row_start[:, None] + (np.cumsum(ptlen, axis=1) - ptlen)

    total_bytes = int(byte_offsets[-1])
    # +2 spare words: a field whose tail crosses the last used byte's
    # word may touch word w+1
    words = np.zeros((total_bytes + 7) // 8 + 2, dtype=np.uint64)

    def put(pos: np.ndarray, v: np.ndarray, nb) -> None:
        """Scatter-OR ``nb``-bit fields ``v`` (uint64, flat) at absolute
        bit positions ``pos``. Stream bit b lives at word b>>6, bit
        63-(b&63) (big-endian words)."""
        w = pos >> 6
        o = (pos & 63).astype(np.int64)
        sh = np.int64(64) - o - nb                     # may be negative
        fits = sh >= 0
        hi = np.where(fits, v << np.where(fits, sh, 0).astype(np.uint64),
                      v >> np.where(fits, 0, -sh).astype(np.uint64))
        np.bitwise_or.at(words, w, hi)
        spill = ~fits
        if spill.any():
            lo = v[spill] << (np.int64(64) + sh[spill]).astype(np.uint64)
            np.bitwise_or.at(words, w[spill] + 1, lo)

    # timestamps: ctrl+payload combined into one field (<= 16 bits for
    # branches 0-3; branch 4 = 4+64 bits, written as two fields)
    enc_pay = np.where(branch < 4, (dod - _LO[branch]).astype(np.uint64),
                       dod.view(np.uint64))
    ts_field = ((_CTRL_VAL[branch] << payn.astype(np.uint64))
                | np.where(payn > 0, enc_pay, np.uint64(0)))
    b4 = branch == 4
    m = ~b4
    put(pt_start[m], ts_field[m], (ctrln + payn)[m])
    if b4.any():
        k = int(b4.sum())
        put(pt_start[b4], np.full(k, 0b1111, dtype=np.uint64),
            np.full(k, 4, dtype=np.int64))
        put(pt_start[b4] + 4, enc_pay[b4], np.full(k, 64, dtype=np.int64))

    # values: flag(1) [+ lz(6) + (siglen-1)(6)] as one header field,
    # then sig as its own field
    vstart = pt_start + ctrln + payn
    hdr = np.where(nz, (np.uint64(1) << np.uint64(12))
                   | (lz.astype(np.uint64) << np.uint64(6))
                   | (siglen - 1).astype(np.uint64), np.uint64(0))
    put(vstart.ravel(), hdr.ravel(), np.where(nz, 13, 1).ravel())
    if nz.any():
        put((vstart + 13)[nz], sig[nz], siglen[nz])

    buf = words.byteswap().tobytes()[:total_bytes]
    return t0, v0, n, buf, byte_offsets


#: at most 4 + 64 timestamp bits and 1 + 12 + 64 value bits per point
_MAX_POINT_BITS = 145
#: points decoded per chunk of rows: bounds the extract pass's
#: temporaries (a few uint64 arrays of this length)
_CHUNK_POINTS = 1 << 20

# Decode tables. The walk keeps its windows as int64, so an arithmetic
# right shift of a window whose top (timestamp control) bit is set
# gives a negative index, which ``take`` reads from the table's top
# half: the same layout as the unsigned index.
_x4 = np.arange(16)
_TS_BRANCH = np.select([_x4 < 8, _x4 < 12, _x4 < 14, _x4 < 15], [0, 1, 2, 3], 4)
# by the 4-bit timestamp control window: control bits, payload bits
# and payload offset
_TS_CTRL = _CTRL_LEN[_TS_BRANCH]
_TS_PAY = _PAY_LEN[_TS_BRANCH]
_TS_LO = _LO[_TS_BRANCH]
# bit length of a value field by its 13-bit header window ('0' or
# '1' + lz + len-1), and of a whole point by its 14-bit prefix
# ts-ctrl|nz|lz|len-1 (0 = timestamp control bit set: general path)
_h13 = np.arange(1 << 13, dtype=np.int64)
_V_LEN = np.where(_h13 >> 12 == 1, 14 + (_h13 & 63), 1)
_PT_LEN = np.concatenate([1 + _V_LEN, np.zeros(1 << 13, dtype=np.int64)])
# by the value header: the xor is ``(field bits << 13) & _XOR_MASK >> lz``,
# where the mask keeps the top len bits (none for a zero xor)
_V_LZ = ((_h13 >> 6) & 63).astype(np.uint64)
_XOR_MASK = np.where(_h13 >> 12 == 1,
                     ~np.uint64(0) << (63 - (_h13 & 63)).astype(np.uint64),
                     0).astype(np.uint64)


def decode_batch_arrow(t0: np.ndarray, v0: np.ndarray, n: np.ndarray,
                       payload: pa.Array
                       ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode blocks of any point counts straight from an Arrow
    ``BinaryArray`` (its offsets and data buffers, honouring a sliced
    array's offset). Returns ``(ts, vals, bits)``: the points of every
    block back to back in row order (row ``i`` owns
    ``n[:i].sum() .. n[:i + 1].sum()``) as int64, and the bits each
    block's points consumed — a well-formed block has
    ``ceil(bits / 8) == len(payload[i])``.

    Two phases, each vectorized across blocks:

    1. **Walk.** Each step reads one 64-bit window at every row's
       cursor, records where the point starts and advances the cursor
       by the point's bit length. On a fixed grid (timestamp control
       bit 0) that length is one table lookup on the 14-bit prefix
       ``ts-ctrl|nz|lz|len-1``; rows whose control bit is set (the
       first point, irregular timestamps) take the general path, which
       also reads the timestamp branch. Rows are walked longest first,
       so a step only touches the rows still inside their block.
    2. **Extract.** Every dod and xor field is read at the recorded
       starts in one pass; ``cumsum`` rebuilds the timestamps and
       ``np.bitwise_xor.accumulate`` the values.

    :func:`decode_block` is the serial certificate for this decoder."""
    n = np.asarray(n, dtype=np.int64)
    t0 = np.asarray(t0, dtype=np.int64)
    v0 = np.asarray(v0, dtype=np.int64)
    rows = len(n)
    out_off = np.zeros(rows + 1, dtype=np.int64)
    np.cumsum(n, out=out_off[1:])
    ts = np.empty(int(out_off[-1]), dtype=np.int64)
    vals = np.empty_like(ts)
    bits = np.zeros(rows, dtype=np.int64)
    if rows == 0:
        return ts, vals, bits
    bufs = payload.buffers()
    width = np.dtype(np.int64 if pa.types.is_large_binary(payload.type)
                     else np.int32)
    offs = np.frombuffer(bufs[1], dtype=width, count=rows + 1,
                         offset=payload.offset * width.itemsize).astype(np.int64)
    data = (np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None
            else np.zeros(0, dtype=np.uint8))
    # a point takes at least 2 bits: a longer block cannot be walked
    bad = np.nonzero((n < 1) | (n - 1 > 4 * np.diff(offs)))[0]
    if len(bad):
        i = int(bad[0])
        raise ValueError(f"block {i}: n={n[i]} points cannot come from "
                         f"{offs[i + 1] - offs[i]} payload bytes")
    lo = 0
    while lo < rows:
        hi = max(lo + 1, int(np.searchsorted(
            out_off, out_off[lo] + _CHUNK_POINTS, side="right")) - 1)
        nn = n[lo:hi]
        start = (offs[lo:hi] - offs[lo]) * 8
        # a corrupt block may walk past its end, by at most
        # _MAX_POINT_BITS per point: zero words cover the furthest read
        reach = int((start + _MAX_POINT_BITS * (nn - 1)).max())
        words = np.zeros((reach >> 5) + 3, dtype=np.uint32)
        words.view(np.uint8)[:offs[hi] - offs[lo]] = data[offs[lo]:offs[hi]]
        u = words.byteswap().astype(np.uint64)   # big-endian 32-bit words
        g = (u[:-1] << 32) | u[1:]              # 64 bits from each word
        pos, end = _walk(g, start, nn)
        bits[lo:hi] = end - start
        dod, xor = _extract(g, u, pos)
        o0, o1 = out_off[lo], out_off[hi]
        _rebuild(ts[o0:o1], vals[o0:o1], t0[lo:hi], v0[lo:hi], nn, dod, xor)
        lo = hi
    return ts, vals, bits


def _walk(g: np.ndarray, start: np.ndarray, n: np.ndarray
          ) -> tuple[np.ndarray, np.ndarray]:
    """Point start bits (row-major, ``n - 1`` per row) and end cursors.
    ``g[w]`` holds the 64 stream bits from bit ``32 * w``, so
    ``g[c >> 5] << (c & 31)`` has at least 33 valid bits at cursor ``c``:
    enough for the 14-bit prefix and for the general path's widest
    control+header read (the 64-bit raw dod is skipped, not read)."""
    gi = g.view(np.int64)
    steps = n - 1
    order = np.argsort(-steps, kind="stable")
    desc = steps[order]
    cur = start[order]
    slot = (np.cumsum(steps) - steps)[order]   # first pos index per row
    pos = np.empty(int(steps.sum()), dtype=np.int64)
    end = np.empty(len(n), dtype=np.int64)
    done, k = 0, len(n)
    while k:
        upto = int(desc[k - 1])   # the shortest of the k active rows ends here
        if upto > done:
            blk = np.empty((upto - done + 1, k), dtype=np.int64)
            blk[0] = cur[:k]
            for j in range(upto - done):
                c = blk[j]
                win = gi.take(c >> 5) << (c & 31)
                ln = _PT_LEN.take(win >> 50)
                if not ln.all():
                    gen = np.flatnonzero(ln == 0)
                    x = win[gen] >> 60
                    head = _TS_CTRL.take(x) + _TS_PAY.take(x)
                    v = c[gen] + head
                    ln[gen] = head + _V_LEN.take((gi.take(v >> 5) << (v & 31)) >> 51)
                np.add(c, ln, out=blk[j + 1])
            pos[slot[:k] + np.arange(done, upto)[:, None]] = blk[:-1]
            cur[:k] = blk[-1]
            done = upto
        k2 = int(np.searchsorted(-desc, -upto, side="left"))
        end[order[k2:k]] = cur[k2:k]
        k = k2
    return pos, end


def _window(g: np.ndarray, u: np.ndarray, b: np.ndarray) -> np.ndarray:
    """The exact 64 stream bits (uint64) from each bit position ``b``."""
    w, s = b >> 5, (b & 31).view(np.uint64)
    return (g.take(w) << s) | (u.take(w + 2) >> (32 - s))


def _extract(g: np.ndarray, u: np.ndarray, pos: np.ndarray
             ) -> tuple[np.ndarray, np.ndarray]:
    """The dod (int64) and xor (uint64) of the points starting at
    ``pos``, all read in one vectorized pass. A fixed-grid point's
    value header and (up to 50) significant bits sit in the same
    window as its timestamp bit; only general-path points and wider
    fields take a second read."""
    win = _window(g, u, pos)
    dod = np.zeros(len(pos), dtype=np.int64)
    vstart = pos + 1
    vwin = win << 1                   # 63 valid bits from vstart
    gen = np.flatnonzero(win >= 1 << 63)
    if len(gen):
        x = (win[gen] >> 60).view(np.int64)
        p = pos[gen] + _TS_CTRL[x]
        pay = _TS_PAY[x]
        raw = _window(g, u, p) >> (64 - pay).view(np.uint64)
        dod[gen] = raw.view(np.int64) + _TS_LO[x]
        vstart[gen] = p + pay
        vwin[gen] = _window(g, u, vstart[gen])
    hdr = (vwin >> 51).view(np.int64)
    xor = ((vwin << 13) & _XOR_MASK.take(hdr)) >> _V_LZ.take(hdr)
    wide = np.flatnonzero(_V_LEN.take(hdr) > 63)   # over 50 significant bits
    if len(wide):
        h = hdr[wide]
        xor[wide] = ((_window(g, u, vstart[wide] + 13) & _XOR_MASK[h])
                     >> _V_LZ[h])
    return dod, xor


def _rebuild(ts: np.ndarray, vals: np.ndarray, t0: np.ndarray,
             v0: np.ndarray, n: np.ndarray, dod: np.ndarray,
             xor: np.ndarray) -> None:
    """Fill one chunk's points from its rows' first points and the
    per-point dod/xor fields: segmented cumsums and xor scans (a scan
    over the whole chunk, then each row's value before it taken out)."""
    first = np.cumsum(n) - n
    rest = np.ones(len(ts), dtype=bool)
    rest[first] = False

    def restart(acc: np.ndarray, op) -> None:
        before = np.zeros(len(n), dtype=acc.dtype)
        before[1:] = acc[first[1:] - 1]
        op(acc, np.repeat(before, n), out=acc)

    vals[first] = v0
    vals[rest] = xor.view(np.int64)
    np.bitwise_xor.accumulate(vals, out=vals)
    restart(vals, np.bitwise_xor)
    ts[first] = 0
    ts[rest] = dod
    np.cumsum(ts, out=ts)            # per-point deltas
    restart(ts, np.subtract)
    ts[first] = t0
    np.cumsum(ts, out=ts)
    restart(ts, np.subtract)


class _BitReader:
    __slots__ = ("bits", "pos")

    def __init__(self, payload: bytes):
        self.bits = np.unpackbits(np.frombuffer(payload, dtype=np.uint8))
        self.pos = 0

    def read(self, n: int) -> int:
        b = self.bits[self.pos:self.pos + n]
        self.pos += n
        out = 0
        for bit in b:
            out = (out << 1) | int(bit)
        return out


def decode_block(t0: int, v0: int, n: int, payload: bytes
                 ) -> tuple[np.ndarray, np.ndarray]:
    """CERTIFICATE decoder: decode one block back to (ts, values) with a
    serial bit-by-bit reader. Exact inverse of :func:`encode_block`
    (round-trip token-array equality is the per-row invariant,
    BASELINE.json input_hint). Production decodes with
    :func:`decode_batch_arrow`; this independent implementation exists
    to check it (tests/test_codecs_property.py)."""
    ts = np.empty(n, dtype=np.int64)
    vals = np.empty(n, dtype=np.int64)
    ts[0] = t0
    vals[0] = v0
    if n == 1:
        return ts, vals
    r = _BitReader(payload)
    delta = 0
    for i in range(1, n):
        # timestamp
        if r.read(1) == 0:
            dod = 0
        elif r.read(1) == 0:
            dod = r.read(7) - 63
        elif r.read(1) == 0:
            dod = r.read(9) - 255
        elif r.read(1) == 0:
            dod = r.read(12) - 2047
        else:
            raw = r.read(64)
            dod = raw - (1 << 64) if raw >= (1 << 63) else raw
        delta += dod
        ts[i] = ts[i - 1] + delta
        # value
        if r.read(1) == 0:
            vals[i] = vals[i - 1]
        else:
            lz = r.read(6)
            siglen = r.read(6) + 1
            sig = r.read(siglen)
            xor = sig << (64 - lz - siglen)
            vals[i] = np.int64(np.uint64(vals[i - 1]) ^ np.uint64(xor))
    return ts, vals

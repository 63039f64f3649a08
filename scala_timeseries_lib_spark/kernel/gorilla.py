"""Gorilla TSC codec: timestamp delta-of-delta + value-XOR bit compression.

From-scratch implementation of the compression scheme published in the
Facebook Gorilla paper ("Gorilla: A Fast, Scalable, In-Memory Time Series
Database", VLDB 2015), which the reference uses through the external
``fi.iki.yak:compression-gorilla`` library (reference: archive/GorillaBlock.scala,
archive/package.scala:32-37 -- Double values only).

A **GorillaArray** encodes an ordered series of ``(timestamp, 64-bit value)``
pairs:

- header: number of pairs (uint32 LE) + block timestamp (int64 LE);
- first pair: delta to the block timestamp in 27 bits (must be < 2^27 - 1,
  reference validation/TimestampValidator.scala:17-23), value raw 64 bits;
- subsequent timestamps: delta-of-delta buckets
  ``0 | 10+7b | 110+9b | 1110+12b | 1111+32b`` (offset to unsigned;
  consecutive gaps must be < 2^31, TimestampValidator.scala:26-31);
- subsequent values: XOR with previous; '0' if identical, else
  '1' + ('0' reuse previous leading/length window | '1' + 5b leading +
  6b length) + meaningful bits.

A **tuple GorillaBlock** is two GorillaArrays (values with their timestamps,
validities with their timestamps) framed as
``int32_BE(len(value_bytes)) ++ value_bytes ++ validity_bytes``
(GorillaBlock.scala:39-48). A **sampled GorillaBlock** is a single value
array plus a fixed sample-rate validity (GorillaBlock.scala:90-121).

Round-trip contracts pinned by the reference's GorillaBlockSpec (lifted to
tests/test_gorilla.py): exact round-trips including Long extremes via Double,
framing length ``4 + len(values) + len(validities)``, errors on empty/corrupt
input and non-positive sample rates.

The encoder (``compress_array``) is fully vectorized -- variable-width codes
as (value, nbits) arrays, bit-packed with flat numpy gathers -- with one
deliberate deviation from the paper's encoder: the leading/length window is
reused only when the new window EQUALS the previous one (the >= rule is a
sequential scan; the equality rule is a pure per-entry function plus a
prefix-max, and produces a stream every conforming decoder accepts). The
sequential reference encoder is kept as ``_compress_array_py`` and
cross-checked in tests.

Every decode goes through ``decompress_arrays``, which picks one of two
decoders from the width of the batch it is given: the sequential
``_decompress_array_py`` block by block for narrow batches (a lone tuple
block is two lanes), the lockstep lane decoder for wide ones (an Arrow
batch of many blocks). The sequential decoder is also the reference the
lockstep one is tested against. A corrupt header fails before anything is
allocated.
"""

from __future__ import annotations

import struct

import numpy as np

from .fitter import fit, fit_arrays

__all__ = [
    "compress_array",
    "decompress_arrays",
    "decompress_tuple_blocks_arrays",
    "compress_tuple_block",
    "compress_tuple_block_arrays",
    "decompress_tuple_block",
    "serialize_tuple_block",
    "deserialize_tuple_block",
    "compress_sampled_block",
    "decompress_sampled_block",
    "validate_gorilla_timestamps",
]

_MAX_FIRST_DELTA = (1 << 27) - 1
_MAX_GAP = 1 << 31

# below this entry count the sequential encoder beats numpy setup overhead
_VEC_CUTOVER = 128

# decompress_arrays decodes in lockstep once the batch's entry counts sum to
# at least this many times its longest block: the lockstep decoder's cost
# follows the longest block, the sequential one's the total (measured
# crossover 20-24 equal lanes, BENCH/gorilla_decode_width_r08.json)
_LOCKSTEP_WIDTH = 24

# delta-of-delta buckets: (prefix_value, prefix_bits, payload_bits, offset)
# bucket holds dod in [-offset, 2^bits - offset - 1]
_DOD_BUCKETS = (
    (0b10, 2, 7, 63),        # [-63, 64]
    (0b110, 3, 9, 255),      # [-255, 256]
    (0b1110, 4, 12, 2047),   # [-2047, 2048]
    (0b1111, 4, 32, 1 << 31),
)


def validate_gorilla_timestamps(ts) -> None:
    """Enforce the reference's TimestampValidator Gorilla constraints
    (TimestampValidator.scala:17-31, 56-98)."""
    ts = np.asarray(ts, dtype=np.int64)
    if ts.size == 0:
        return
    if ts[0] <= 0:
        raise ValueError("Gorilla timestamps must be positive")
    if ts.size > 1:
        gaps = np.diff(ts)
        if not np.all(gaps > 0):
            raise ValueError("Timestamps must be strictly increasing")
        if not np.all(gaps < _MAX_GAP):
            raise ValueError("Consecutive timestamp gap must be < 2^31")


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int):
        if bits == 0:
            return
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def getvalue(self) -> bytes:
        if self.nbits:
            return bytes(self.buf) + bytes([(self.acc << (8 - self.nbits)) & 0xFF])
        return bytes(self.buf)


class _BitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, bits: int) -> int:
        if bits == 0:
            return 0
        if self.pos + bits > len(self.data) * 8:
            raise ValueError("corrupt Gorilla array: out of bits")
        out = 0
        p = self.pos
        remaining = bits
        while remaining > 0:
            byte = self.data[p >> 3]
            avail = 8 - (p & 7)
            take = avail if avail < remaining else remaining
            shift = avail - take
            out = (out << take) | ((byte >> shift) & ((1 << take) - 1))
            p += take
            remaining -= take
        self.pos = p
        return out


def compress_array(timestamps, values_u64) -> bytes:
    """Encode (int64 ts, uint64 value-bits) pairs into a GorillaArray.

    Fully vectorized (no per-entry Python): per-entry variable-length codes
    are materialized as (value, nbits) field arrays, then packed with a
    64-pass bit matrix + ``np.packbits``. The leading/length window is
    reused only when the new window EQUALS the previous changed value's
    window -- a vectorizable restriction of the paper's >= rule (the
    effective window state never differs from the per-entry window, so the
    sequential decoder below and gorilla-tsc both accept the stream).
    """
    ts = np.asarray(timestamps, dtype=np.int64)
    vals = np.asarray(values_u64, dtype=np.uint64)
    n = int(ts.size)
    if n < _VEC_CUTOVER:
        # numpy setup overhead beats the loop below ~128 entries; web-scale
        # series are often tiny, so both paths stay load-bearing
        return _compress_array_py(ts, vals)
    if n == 0:
        raise ValueError("cannot compress an empty series")
    validate_gorilla_timestamps(ts)
    block_ts = int(ts[0])

    # ---- timestamp codes: delta-of-delta bucket per entry ----
    deltas = np.diff(ts)
    dod = deltas.copy()
    dod[1:] = deltas[1:] - deltas[:-1]
    conds = [dod == 0]
    code_vals = [np.zeros(dod.size, np.uint64)]
    code_bits = [np.ones(dod.size, np.int64)]
    for prefix, pbits, bits, offset in _DOD_BUCKETS:
        conds.append((dod >= -offset) & (dod < (1 << bits) - offset))
        code_vals.append(
            ((np.uint64(prefix) << np.uint64(bits))
             | (dod + offset).astype(np.uint64))
        )
        code_bits.append(np.full(dod.size, pbits + bits, np.int64))
    ts_val = np.select(conds, code_vals)
    ts_bits = np.select(conds, code_bits)

    # ---- value codes: XOR + leading/length window ----
    xor = vals[1:] ^ vals[:-1]
    changed = xor != 0
    x = xor.copy()
    for s in (1, 2, 4, 8, 16, 32):
        x |= x >> np.uint64(s)
    msb = x - (x >> np.uint64(1))
    bitlen = np.zeros(xor.size, np.int64)
    nz = msb != 0
    bitlen[nz] = np.log2(msb[nz].astype(np.float64)).astype(np.int64) + 1
    lead = np.minimum(64 - bitlen, 31)
    low = xor & (~xor + np.uint64(1))
    trail = np.zeros(xor.size, np.int64)
    trail[nz] = np.log2(low[nz].astype(np.float64)).astype(np.int64)
    length = 64 - lead - trail  # meaningful bits (1..64) where changed

    # previous changed value's window (prefix-max of changed indices)
    idx = np.where(changed, np.arange(xor.size), -1)
    prev_idx = np.concatenate(([-1], np.maximum.accumulate(idx)[:-1]))
    has_prev = prev_idx >= 0
    prev_c = np.clip(prev_idx, 0, None)
    reuse = (
        changed & has_prev
        & (lead[prev_c] == lead) & (length[prev_c] == length)
    )
    new_win = changed & ~reuse

    ctrl_val = np.zeros(xor.size, np.uint64)
    ctrl_bits = np.zeros(xor.size, np.int64)
    ctrl_val[changed] = np.uint64(0b10)
    ctrl_bits[changed] = 2
    ctrl_val[~changed] = np.uint64(0)
    ctrl_bits[~changed] = 1
    ctrl_val[new_win] = (
        (np.uint64(0b11) << np.uint64(11))
        | (lead[new_win].astype(np.uint64) << np.uint64(6))
        | (length[new_win].astype(np.uint64) & np.uint64(0x3F))
    )
    ctrl_bits[new_win] = 13
    pay_val = np.zeros(xor.size, np.uint64)
    pay_bits = np.zeros(xor.size, np.int64)
    pay_val[changed] = xor[changed] >> trail[changed].astype(np.uint64)
    pay_bits[changed] = length[changed]

    # ---- interleave header + (ts, ctrl, payload) per entry and pack ----
    m = xor.size
    fields_val = np.empty(2 + 3 * m, np.uint64)
    fields_bits = np.empty(2 + 3 * m, np.int64)
    fields_val[0], fields_bits[0] = np.uint64(0), 27  # first delta to header
    fields_val[1], fields_bits[1] = vals[0], 64
    fields_val[2::3], fields_bits[2::3] = ts_val, ts_bits
    fields_val[3::3], fields_bits[3::3] = ctrl_val, ctrl_bits
    fields_val[4::3], fields_bits[4::3] = pay_val, pay_bits
    return struct.pack("<Iq", n, block_ts) + _pack_bits(fields_val, fields_bits)


def _pack_bits(values: "np.ndarray", nbits: "np.ndarray") -> bytes:
    """MSB-first concatenation of variable-width fields.

    One ``np.unpackbits`` pass exposes every field's 64 bits MSB-first; a
    row-major boolean take of each row's low ``nbits`` columns IS the
    concatenated stream (fields are consecutive, so no offsets and no
    scatter are needed) -- the whole pack is three vectorized ops."""
    total = int(nbits.sum())
    if total == 0:
        return b""
    # one output element per BIT: field index, position within the field,
    # then extract that bit with a shift -- all flat C-speed gathers
    row = np.repeat(np.arange(nbits.size), nbits)
    within = np.arange(total) - np.repeat(np.cumsum(nbits) - nbits, nbits)
    shift = (np.repeat(nbits, nbits) - 1 - within).astype(np.uint64)
    bits = ((values[row] >> shift) & np.uint64(1)).astype(np.uint8)
    pad = (-total) % 8
    if pad:
        bits = np.concatenate([bits, np.zeros(pad, np.uint8)])
    return np.packbits(bits).tobytes()


def _compress_array_py(timestamps, values_u64) -> bytes:
    """Sequential reference encoder (paper's >=-window-reuse rule); kept as
    the cross-check twin for the vectorized encoder in tests."""
    ts = np.asarray(timestamps, dtype=np.int64)
    vals = np.asarray(values_u64, dtype=np.uint64)
    n = int(ts.size)
    if n == 0:
        raise ValueError("cannot compress an empty series")
    validate_gorilla_timestamps(ts)
    block_ts = int(ts[0])

    w = _BitWriter()
    w.write(0, 27)  # first delta relative to block_ts (== first ts here)
    w.write(int(vals[0]), 64)

    prev_delta = 0
    prev_val = int(vals[0])
    prev_lead, prev_len = -1, -1
    for i in range(1, n):
        delta = int(ts[i]) - int(ts[i - 1])
        dod = delta - prev_delta
        prev_delta = delta
        if dod == 0:
            w.write(0, 1)
        else:
            for prefix, pbits, bits, offset in _DOD_BUCKETS:
                if -offset <= dod < (1 << bits) - offset:
                    w.write(prefix, pbits)
                    w.write(dod + offset, bits)
                    break
            else:  # pragma: no cover - excluded by gap validation
                raise ValueError("delta-of-delta out of range")
        v = int(vals[i])
        xor = prev_val ^ v
        prev_val = v
        if xor == 0:
            w.write(0, 1)
        else:
            lead = min(64 - xor.bit_length(), 31)
            trail = (xor & -xor).bit_length() - 1
            # keep the meaningful window decodable with 6-bit length (64 -> 0)
            length = 64 - lead - trail
            w.write(1, 1)
            if (
                prev_lead >= 0
                and lead >= prev_lead
                and (64 - prev_lead - prev_len) <= trail
            ):
                w.write(0, 1)
                w.write(xor >> (64 - prev_lead - prev_len), prev_len)
            else:
                w.write(1, 1)
                w.write(lead, 5)
                w.write(length & 0x3F, 6)
                w.write(xor >> trail, length)
                prev_lead, prev_len = lead, length
    return struct.pack("<Iq", n, block_ts) + w.getvalue()


def _words_be(payload_bytes: "np.ndarray") -> "np.ndarray":
    """Payload bytes -> native uint64 array of BIG-ENDIAN 64-bit words (plus
    two guard words), so any <=64-bit field at bit position p spans at most
    words [p>>6, (p>>6)+1]."""
    pad = (-payload_bytes.size) % 8 + 16
    padded = np.concatenate([payload_bytes, np.zeros(pad, np.uint8)])
    return padded.view(">u8").astype(np.uint64)


def _read_var(words, starts, widths):
    """Vector field read (1..64 bits, big-endian) at bit positions
    ``starts``: two word gathers + shifts per lane, no per-bit work."""
    q = starts >> 6
    r = (starts & 63).astype(np.uint64)
    left = np.left_shift(words[q], r)
    # (64 - r) == 64 when r == 0: shift by 63 then 1 to stay defined
    right = np.right_shift(
        np.right_shift(words[q + 1], np.uint64(63) - r), np.uint64(1)
    )
    window = left | right
    return np.right_shift(window, (np.uint64(64) - widths.astype(np.uint64)))


def _read_fixed(words, starts, width):
    return _read_var(words, starts, np.full(starts.size, width, np.int64))


def _header(data: bytes):
    """``(n, block_ts, payload)`` of a GorillaArray. The entry count is
    checked against the payload size before anything is allocated: the
    first entry takes 27 + 64 bits and every later one at least 2 (one
    delta-of-delta and one XOR control bit)."""
    if len(data) < 12:
        raise ValueError("corrupt Gorilla array: too short")
    n, block_ts = struct.unpack_from("<Iq", data, 0)
    if n == 0 or n - 1 > ((len(data) - 12) * 8 - 91) // 2:
        raise ValueError("corrupt Gorilla array: bad entry count")
    return n, block_ts, bytes(data[12:])


def decompress_arrays(blocks):
    """Batch decode: many GorillaArrays -> list of (int64 ts, uint64
    value-bits).

    The control stream is a variable-length prefix code, so a single block
    decodes inherently sequentially. A batch is decoded by whichever of two
    decoders its width favours: the sequential ``_decompress_array_py``
    block by block, or the lockstep decoder below, which costs one numpy
    step per entry index of the LONGEST block. The batch is wide -- lockstep
    -- when its entry counts sum to at least ``_LOCKSTEP_WIDTH`` times the
    largest count (for equal blocks: at least that many lanes).

    The lockstep decoder runs the control-state machine as vectors over
    block LANES (position, previous delta, previous XOR window per lane),
    advancing every lane by one entry per iteration: Python loop overhead
    amortizes over the batch width and ALL bit extraction (control and
    payload) happens in numpy. Both decoders are cross-checked in tests.
    """
    heads = [_header(data) for data in blocks]
    if not heads:
        return []
    counts, starts, payloads = zip(*heads)
    if sum(counts) < _LOCKSTEP_WIDTH * max(counts):
        return [_decompress_array_py(data) for data in blocks]
    m = len(heads)
    ns = np.array(counts, np.int64)
    block_ts = np.array(starts, np.int64)
    lens = np.array([len(p) for p in payloads], np.int64)
    base = np.concatenate(([0], np.cumsum(lens)[:-1])) * 8
    limit = base + lens * 8
    joined = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    # one step consumes at most 4+32+2+11+64 = 113 bits past a verified
    # position; 128 zero pad bits keep within-step gathers in bounds
    bits = np.unpackbits(np.concatenate([joined, np.zeros(16, np.uint8)]))
    words = _words_be(joined)

    first_delta = _read_fixed(words, base, 27).astype(np.int64)
    cur_val = _read_fixed(words, base + 27, 64)
    pos = base + 91
    prev_delta = first_delta.copy()
    cur_ts = block_ts + first_delta

    out_base = np.concatenate(([0], np.cumsum(ns)[:-1]))
    total = int(ns.sum())
    out_ts = np.empty(total, np.int64)
    out_val = np.empty(total, np.uint64)
    out_ts[out_base] = cur_ts
    out_val[out_base] = cur_val

    prev_lead = np.full(m, -1, np.int64)
    prev_len = np.full(m, -1, np.int64)
    i = np.ones(m, np.int64)
    act = np.flatnonzero(ns > 1)
    while act.size:
        # ---- timestamp: delta-of-delta control + payload ----
        p = pos[act]
        enc = bits[p] == 1
        ae = act[enc]
        if ae.size:
            pe = pos[ae]
            t1 = bits[pe + 1]
            t2 = bits[pe + 2]
            t3 = bits[pe + 3]
            w = np.where(t1 == 0, 7, np.where(t2 == 0, 9, np.where(t3 == 0, 12, 32)))
            ctrl = np.where(t1 == 0, 2, np.where(t2 == 0, 3, 4))
            off = np.where(
                t1 == 0, 63, np.where(t2 == 0, 255, np.where(t3 == 0, 2047, 1 << 31))
            )
            raw = _read_var(words, pe + ctrl, w)
            prev_delta[ae] += raw.astype(np.int64) - off
            pos[ae] = pe + ctrl + w
        pos[act[~enc]] += 1
        cur_ts[act] += prev_delta[act]
        out_ts[out_base[act] + i[act]] = cur_ts[act]

        # ---- value: change / window-reuse control + XOR payload ----
        ch = bits[pos[act]] == 1
        pos[act[~ch]] += 1
        ac = act[ch]
        if ac.size:
            newwin = bits[pos[ac] + 1] == 1
            ar = ac[~newwin]
            if ar.size:
                if (prev_len[ar] < 0).any():
                    raise ValueError("corrupt Gorilla array: no previous window")
                pos[ar] += 2
            an = ac[newwin]
            if an.size:
                pn = pos[an] + 2
                lead = _read_fixed(words, pn, 5).astype(np.int64)
                length = _read_fixed(words, pn + 5, 6).astype(np.int64)
                length = np.where(length == 0, 64, length)
                prev_lead[an] = lead
                prev_len[an] = length
                pos[an] += 13
            ll = prev_len[ac]
            shift = 64 - prev_lead[ac] - ll
            if (shift < 0).any():
                raise ValueError("corrupt Gorilla array: bad XOR window")
            xraw = _read_var(words, pos[ac], ll)
            cur_val[ac] ^= np.left_shift(xraw, shift.astype(np.uint64))
            pos[ac] += ll
        out_val[out_base[act] + i[act]] = cur_val[act]

        i[act] += 1
        if (pos[act] > limit[act]).any():
            raise ValueError("corrupt Gorilla array: out of bits")
        act = act[i[act] < ns[act]]

    return [
        (out_ts[out_base[j]: out_base[j] + ns[j]],
         out_val[out_base[j]: out_base[j] + ns[j]])
        for j in range(m)
    ]


def decompress_tuple_blocks_arrays(datas):
    """Batch tuple-block decode: list of serialized tuple blocks -> list of
    (int64 ts, float64 values, int64 validities). The value and validity
    GorillaArrays of every block decode in ONE :func:`decompress_arrays`
    batch (2 * len(datas) lanes)."""
    pairs = [deserialize_tuple_block(d) for d in datas]
    decoded = decompress_arrays(
        [p[0] for p in pairs] + [p[1] for p in pairs]
    )
    k = len(pairs)
    out = []
    for j in range(k):
        ts_v, vals = decoded[j]
        ts_d, validities = decoded[k + j]
        if ts_v.size != ts_d.size or not np.array_equal(ts_v, ts_d):
            raise ValueError(
                "The byte arrays in this block are not a valid compressed timeseries."
            )
        out.append((ts_v, vals.view(np.float64), validities.astype(np.int64)))
    return out


def _decompress_array_py(data: bytes):
    """Sequential reference decoder: the path for narrow batches and the
    twin the lockstep decoder is tested against."""
    n, block_ts, payload = _header(data)
    r = _BitReader(payload)
    ts = np.empty(n, dtype=np.int64)
    vals = np.empty(n, dtype=np.uint64)
    first_delta = r.read(27)
    ts[0] = block_ts + first_delta
    val = r.read(64)
    vals[0] = val
    prev_delta = first_delta
    prev_lead, prev_len = -1, -1
    for i in range(1, n):
        if r.read(1) == 0:
            dod = 0
        else:
            if r.read(1) == 0:
                bits, offset = 7, 63
            elif r.read(1) == 0:
                bits, offset = 9, 255
            elif r.read(1) == 0:
                bits, offset = 12, 2047
            else:
                bits, offset = 32, 1 << 31
            dod = r.read(bits) - offset
        prev_delta += dod
        ts[i] = ts[i - 1] + prev_delta
        if r.read(1) == 1:
            if r.read(1) == 0:
                if prev_len < 0:
                    raise ValueError("corrupt Gorilla array: no previous window")
                lead, length = prev_lead, prev_len
            else:
                lead = r.read(5)
                length = r.read(6)
                if length == 0:
                    length = 64
                prev_lead, prev_len = lead, length
            xor = r.read(length) << (64 - lead - length)
            val ^= xor
        vals[i] = val
    return ts, vals


# ---------------------------------------------------------------------------
# Blocks (GorillaBlock.scala)
# ---------------------------------------------------------------------------

def compress_tuple_block(entries, compress: bool = True) -> bytes:
    """Compress fitted (ts, double value, validity) entries into a serialized
    tuple GorillaBlock. Entries run through the fitter first, mirroring
    GorillaBlock.Builder (GorillaBlock.scala:208-300)."""
    entries = list(entries)
    ts = np.array([e[0] for e in entries], dtype=np.int64)
    values = np.array([e[1] for e in entries], dtype=np.float64)
    validities = np.array([e[2] for e in entries], dtype=np.int64)
    return compress_tuple_block_arrays(ts, values, validities, compress=compress)


def compress_tuple_block_arrays(ts, values, validities, compress: bool = True) -> bytes:
    """Array-native tuple-block encode: (int64 ts, float64 value, int64
    validity) arrays in, serialized block out. Same semantics as
    :func:`compress_tuple_block` (vectorized fitter + two GorillaArrays)
    with zero per-entry Python objects -- the hot path for Arrow batches."""
    ts = np.asarray(ts, dtype=np.int64)
    values = np.asarray(values, dtype=np.float64)
    validities = np.asarray(validities, dtype=np.int64)
    ts, values, validities = fit_arrays(ts, values, validities, compress=compress)
    if ts.size == 0:
        raise ValueError("cannot compress an empty series")
    value_bytes = compress_array(ts, values.view(np.uint64))
    validity_bytes = compress_array(ts, validities.astype(np.uint64))
    return serialize_tuple_block(value_bytes, validity_bytes)


def serialize_tuple_block(value_bytes: bytes, validity_bytes: bytes) -> bytes:
    """Framing: int32_BE(len(value_bytes)) ++ value_bytes ++ validity_bytes
    (GorillaBlock.scala:39-48)."""
    if not value_bytes:
        raise ValueError("Value GorillaArray cannot be empty.")
    if not validity_bytes:
        raise ValueError("Validities GorillaArray cannot be empty.")
    return struct.pack(">i", len(value_bytes)) + value_bytes + validity_bytes


def deserialize_tuple_block(data: bytes):
    """Inverse of :func:`serialize_tuple_block`; returns the two arrays."""
    if len(data) < 4:
        raise ValueError("corrupt tuple block: too short")
    (vlen,) = struct.unpack_from(">i", data, 0)
    if vlen <= 0 or 4 + vlen > len(data):
        raise ValueError("corrupt tuple block: bad value-array length")
    return bytes(data[4 : 4 + vlen]), bytes(data[4 + vlen :])


def decompress_tuple_block(data: bytes):
    """Serialized tuple block -> list of (ts, double value, validity)."""
    [(ts, values, validities)] = decompress_tuple_blocks_arrays([data])
    return [
        (int(t), float(v), int(d)) for t, v, d in zip(ts, values, validities)
    ]


def compress_sampled_block(entries, sample_rate: int, compress: bool = True) -> bytes:
    """Sampled block: one value array; validities are discarded and become
    ``sample_rate`` at decompression (GorillaBlock.scala:90-121)."""
    if sample_rate <= 0:
        raise ValueError("Sampling rate must be positive.")
    entries = fit(list(entries), compress=compress)
    if not entries:
        raise ValueError("cannot compress an empty series")
    ts = np.array([e[0] for e in entries], dtype=np.int64)
    values = np.array([e[1] for e in entries], dtype=np.float64)
    return compress_array(ts, values.view(np.uint64))


def decompress_sampled_block(data: bytes, sample_rate: int):
    if sample_rate <= 0:
        raise ValueError("Sampling rate must be positive.")
    [(ts, vals)] = decompress_arrays([data])
    values = vals.view(np.float64)
    return [(int(t), float(v), int(sample_rate)) for t, v in zip(ts, values)]

"""Gorilla codec: delta-of-delta timestamps + XOR-compressed float values.

Implements the compression scheme of the Gorilla TSDB paper (Pelkonen et
al., VLDB 2015) as the storage codec for rolled-up series chunks (north-rule
requirement). The reference repo has no codec; this is engine-specific
(FIXTURES.md §B5: round-trip golden tests).

Format (bit-packed, MSB first):
- header: n_points (32 bits). n==0 → empty blob.
- timestamps (int64 seconds): t0 raw 64 bits; delta0 = t1-t0 zigzagged as
  varint-ish classes; then delta-of-delta D with classes
  '0' (D==0), '10'+7b (−63..64), '110'+9b (−255..256), '1110'+12b
  (−2047..2048), '1111'+64b raw (zigzag).
- values (float64): v0 raw 64 bits; then XOR with previous:
  '0' (same), '10' + bits inside the previous meaningful window,
  '11' + 5b leading-zero count + 6b meaningful length + bits.

Lossless for any float64 incl. NaN/±inf (bit-pattern identity) and any
monotone or non-monotone int64 timestamps.

Execution model: both directions are one ``mapInArrow`` over Arrow
batches. Encode groups the points of each (series, chunk) into two sorted
arrays on the JVM (the codec requires time order) and hands the kernel
slices of one flat buffer per column; decode expands each blob row on its
own, so it needs no shuffle. XOR/leading-zero analysis and bit packing are
vectorized in numpy; decode is a tight per-point loop (at cluster scale
this kernel is the natural candidate for a native build — the surrounding
plan is unchanged).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from etna_spark.sqltext import ident


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int) -> None:
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def bytes(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            out = bytes(self.buf) + bytes([(self.acc << pad) & 0xFF])
        else:
            out = bytes(self.buf)
        return out


class _BitReader:
    """MSB-first reader over a byte buffer. Accumulator formulation: refill
    whole bytes into ``acc`` and slice fields with one shift+mask — ~3×
    fewer Python ops per read() than per-bit-boundary indexing (the decode
    loops call read() 2-5 times per point)."""

    __slots__ = ("data", "byte_i", "acc", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.byte_i = 0
        self.acc = 0
        self.nbits = 0

    def read(self, bits: int) -> int:
        acc, nbits, byte_i = self.acc, self.nbits, self.byte_i
        data = self.data
        while nbits < bits:
            acc = (acc << 8) | data[byte_i]
            byte_i += 1
            nbits += 8
        nbits -= bits
        out = (acc >> nbits) & ((1 << bits) - 1)
        self.acc = acc & ((1 << nbits) - 1)
        self.nbits = nbits
        self.byte_i = byte_i
        return out


def _zigzag(x: int) -> int:
    return (x << 1) ^ (x >> 63) if x < 0 else (x << 1)


def _unzigzag(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


_U64 = np.uint64


# -- vectorized bit machinery -------------------------------------------------

_M1 = np.uint64(0x5555555555555555)
_M2 = np.uint64(0x3333333333333333)
_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_H01 = np.uint64(0x0101010101010101)


def _popcount_u64(x: np.ndarray) -> np.ndarray:
    """SWAR popcount (numpy < 2 has no bitwise_count)."""
    with np.errstate(over="ignore"):
        x = x - ((x >> np.uint64(1)) & _M1)
        x = (x & _M2) + ((x >> np.uint64(2)) & _M2)
        x = (x + (x >> np.uint64(4))) & _M4
        return (x * _H01) >> np.uint64(56)


def _clz_u64(x: np.ndarray) -> np.ndarray:
    """Count leading zeros via bit smearing + popcount (x==0 → 64)."""
    s = x.copy()
    for k in (1, 2, 4, 8, 16, 32):
        s |= s >> np.uint64(k)
    return np.uint64(64) - _popcount_u64(s)


def _ctz_u64(x: np.ndarray) -> np.ndarray:
    """Count trailing zeros (x==0 → 64)."""
    with np.errstate(over="ignore"):
        low = x & (np.uint64(0) - x)  # x & -x
    return np.where(
        x == 0, np.uint64(64), _popcount_u64(low - np.uint64(1))
    ).astype(np.uint64)


def _pack_tokens(tok_vals: np.ndarray, tok_bits: np.ndarray) -> bytes:
    """Pack (value, width≤64) tokens MSB-first into bytes — the vectorized
    equivalent of sequential _BitWriter.write calls (bit-identical output,
    incl. zero-padding of the final byte).

    Word-level algorithm, O(#tokens) not O(#bits): each token lands in at
    most two 64-bit words; per-word OR-reduction of the (monotone) hi and lo
    contribution streams via ``bitwise_or.reduceat``, then a single
    big-endian dump (bit 0 of the stream = MSB of word 0)."""
    # contract: 1 <= width <= 64 and every value fits its declared width
    # (all emitters construct tokens that way)
    v = tok_vals.astype(np.uint64, copy=False)
    tok_bits = tok_bits.astype(np.int64, copy=False)
    ends = np.cumsum(tok_bits)
    total = int(ends[-1]) if len(ends) else 0
    if total == 0:
        return b""
    offs = ends - tok_bits
    r = offs & 63
    w0 = offs >> 6
    left = 64 - r - tok_bits                      # [-63, 63]
    neg = left < 0
    l_u = (left & 63).astype(np.uint64)           # == 64+left when neg
    r_u = ((-left) & 63).astype(np.uint64)
    hi = np.where(neg, v >> r_u, v << l_u)
    lo = np.where(neg, v << l_u, np.uint64(0))

    n_words = (total + 63) >> 6
    words = np.zeros(n_words, dtype=np.uint64)
    first = np.empty(1, dtype=bool)
    first[0] = True
    for idx, vals in ((w0, hi), (w0 + 1, lo)):
        nz = vals != 0
        if not nz.any():
            continue
        idx, vals = idx[nz], vals[nz]
        starts = np.flatnonzero(
            np.concatenate([first, idx[1:] != idx[:-1]])
        )
        red = np.bitwise_or.reduceat(vals, starts)
        words[idx[starts]] |= red
    raw = words.astype(">u8").tobytes()
    return raw[: (total + 7) >> 3]


def _zigzag_vec(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.int64, copy=False)
    return ((x << 1) ^ (x >> 63)).view(np.uint64)


def _merge_zero_tokens(
    tv: np.ndarray, tb: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Merge runs of adjacent zero-VALUED tokens into ≤64-bit zero tokens —
    bit-identical stream, far fewer tokens (repeated values / regular grids
    emit long runs of 1-bit '0' tokens)."""
    z = tv == 0
    n = len(tv)
    edge = np.empty(n, dtype=bool)
    edge[0] = True
    np.not_equal(z[1:], z[:-1], out=edge[1:])
    s_idx = np.flatnonzero(z & edge)
    if len(s_idx) == 0:
        return tv, tb
    end_edge = np.empty(n, dtype=bool)
    end_edge[-1] = True
    np.not_equal(z[:-1], z[1:], out=end_edge[:-1])
    e_idx = np.flatnonzero(z & end_edge)
    cs = np.cumsum(tb)
    run_bits = cs[e_idx] - cs[s_idx] + tb[s_idx]
    chunks = (run_bits + 63) >> 6
    counts = (~z).astype(np.int64)
    counts[s_idx] = chunks
    pos = np.cumsum(counts) - counts
    m = int(pos[-1] + counts[-1])
    out_v = np.zeros(m, dtype=np.uint64)
    out_b = np.full(m, 64, dtype=np.int64)
    nzm = ~z
    out_v[pos[nzm]] = tv[nzm]
    out_b[pos[nzm]] = tb[nzm]
    out_b[pos[s_idx] + chunks - 1] = run_bits - ((chunks - 1) << 6)
    return out_v, out_b


def encode_chunk(timestamps: np.ndarray, values: np.ndarray) -> bytes:
    """Encode one sorted chunk (vectorized): int64 seconds + float64 values.

    Emits the exact bitstream of :func:`encode_chunk_ref` — DoD classes are
    merged control+payload tokens, XOR window-reuse decisions run in a thin
    scalar loop over precomputed lead/trail arrays, and all bit emission is
    one vectorized pack (tests pin bit-identity against the reference
    implementation)."""
    ts = np.asarray(timestamps, dtype=np.int64)
    vals = np.asarray(values, dtype=np.float64)
    n = len(ts)
    tv: list[np.ndarray] = [np.array([n], dtype=np.uint64)]
    tb: list[np.ndarray] = [np.array([32], dtype=np.int64)]
    if n == 0:
        return _pack_tokens(np.concatenate(tv), np.concatenate(tb))

    tv.append(ts[:1].view(np.uint64))
    tb.append(np.array([64], dtype=np.int64))
    if n > 1:
        deltas = np.diff(ts)
        tv.append(_zigzag_vec(deltas[:1]))
        tb.append(np.array([64], dtype=np.int64))
        if n > 2:
            dod = np.diff(deltas)
            c0 = dod == 0
            c1 = ~c0 & (dod >= -63) & (dod <= 64)
            c2 = ~c0 & ~c1 & (dod >= -255) & (dod <= 256)
            c3 = ~c0 & ~c1 & ~c2 & (dod >= -2047) & (dod <= 2048)
            c4 = ~(c0 | c1 | c2 | c3)
            tok1 = np.select(
                [c0, c1, c2, c3],
                [
                    np.zeros_like(dod),
                    (0b10 << 7) | (dod + 63),
                    (0b110 << 9) | (dod + 255),
                    (0b1110 << 12) | (dod + 2047),
                ],
                default=np.full_like(dod, 0b1111),
            ).view(np.uint64)
            bits1 = np.select(
                [c0, c1, c2, c3], [1, 9, 12, 16], default=4
            ).astype(np.int64)
            # run-merge the dominant '0' class: a run of k one-bit zeros is
            # one k-bit zero token (identical bits) — on a regular grid this
            # collapses the whole timestamp stream to a handful of tokens
            edge = np.empty(len(dod), dtype=bool)
            edge[0] = True
            np.not_equal(c0[1:], c0[:-1], out=edge[1:])
            run_start = c0 & edge
            if run_start.any():
                s_idx = np.flatnonzero(run_start)
                end_edge = np.empty(len(dod), dtype=bool)
                end_edge[-1] = True
                np.not_equal(c0[:-1], c0[1:], out=end_edge[:-1])
                e_idx = np.flatnonzero(c0 & end_edge)
                run_len = e_idx - s_idx + 1                   # bits per run
                chunks = (run_len + 63) >> 6
                counts = np.where(c4, 2, np.where(c0, 0, 1)).astype(np.int64)
                counts[s_idx] = chunks
                pos1 = np.cumsum(counts) - counts
                m = int(pos1[-1] + counts[-1]) if len(counts) else 0
                out_v = np.zeros(m, dtype=np.uint64)
                out_b = np.full(m, 64, dtype=np.int64)        # zero chunks
                non0 = ~c0
                out_v[pos1[non0]] = tok1[non0]
                out_b[pos1[non0]] = bits1[non0]
                if c4.any():
                    out_v[pos1[c4] + 1] = _zigzag_vec(dod[c4])
                    out_b[pos1[c4] + 1] = 64
                # last chunk of each zero run gets the remainder width
                out_b[pos1[s_idx] + chunks - 1] = run_len - ((chunks - 1) << 6)
                tv.append(out_v)
                tb.append(out_b)
            elif c4.any():
                # interleave the 64-bit zigzag payload after each escape
                counts = np.where(c4, 2, 1)
                pos1 = np.cumsum(counts) - counts
                m = int(counts.sum())
                out_v = np.empty(m, dtype=np.uint64)
                out_b = np.empty(m, dtype=np.int64)
                out_v[pos1] = tok1
                out_b[pos1] = bits1
                out_v[pos1[c4] + 1] = _zigzag_vec(dod[c4])
                out_b[pos1[c4] + 1] = 64
                tv.append(out_v)
                tb.append(out_b)
            else:
                tv.append(tok1)
                tb.append(bits1)

    bits = vals.view(_U64)
    tv.append(bits[:1])
    tb.append(np.array([64], dtype=np.int64))
    if n > 1:
        xors = np.bitwise_xor(bits[1:], bits[:-1])
        lead_a = np.minimum(_clz_u64(xors), np.uint64(31)).astype(np.int64)
        trail_a = np.minimum(_ctz_u64(xors), np.uint64(63)).astype(np.int64)
        mlen_a = 64 - lead_a - trail_a
        m = len(xors)
        nonzero = xors != 0
        # The (prev_lead, prev_len) window state is piecewise-constant and
        # changes RARELY on real data (the reuse class dominates): iterate
        # over window CHANGES, not points — each change point is found with
        # a vectorized scan for the first xor that does not fit the current
        # window. Worst case (adversarial data changing the window every
        # point) degrades to O(changes·m); cap it and fall back to the
        # scalar loop there.
        win_lead = np.zeros(m, dtype=np.int64)
        win_len = np.zeros(m, dtype=np.int64)
        is_new = np.zeros(m, dtype=bool)
        nz_idx = np.flatnonzero(nonzero)
        changes = 0
        i = int(nz_idx[0]) if len(nz_idx) else m
        max_changes = 4096
        while i < m and changes <= max_changes:
            L = int(lead_a[i])
            M = int(mlen_a[i])
            is_new[i] = True
            changes += 1
            viol = nonzero & (
                (lead_a < L) | (trail_a < np.int64(64 - L - M))
            )
            viol[: i + 1] = False
            j = int(np.argmax(viol)) if viol.any() else m
            win_lead[i:j] = L
            win_len[i:j] = M
            i = j
        if i < m:  # pathological fallback: finish with the scalar loop
            prev_lead, prev_len = int(win_lead[i - 1]), int(win_len[i - 1])
            for k in range(i, m):
                if not nonzero[k]:
                    continue
                lead, trail, mlen = int(lead_a[k]), int(trail_a[k]), int(mlen_a[k])
                if lead >= prev_lead and trail >= 64 - prev_lead - prev_len:
                    win_lead[k], win_len[k] = prev_lead, prev_len
                else:
                    is_new[k] = True
                    prev_lead, prev_len = lead, mlen
                    win_lead[k], win_len[k] = lead, mlen
            win_lead[i:][~nonzero[i:]] = 0

        # vectorized token emission: control token (+ payload token when the
        # pair exceeds 64 bits) per xor
        ctrl_v = np.zeros(m, dtype=np.uint64)
        ctrl_b = np.ones(m, dtype=np.int64)          # zero-xor: '0' (1 bit)
        pay_v = np.zeros(m, dtype=np.uint64)
        pay_b = np.zeros(m, dtype=np.int64)

        reuse = nonzero & ~is_new
        if reuse.any():
            Mr = win_len[reuse]
            shift = (64 - win_lead[reuse] - Mr).astype(np.uint64)
            payload = xors[reuse] >> shift
            small = Mr <= 62
            cv = np.where(
                small,
                (np.uint64(0b10) << Mr.astype(np.uint64)) | payload,
                np.uint64(0b10),
            )
            cb = np.where(small, Mr + 2, 2)
            ctrl_v[reuse] = cv
            ctrl_b[reuse] = cb
            pv = np.where(small, np.uint64(0), payload)
            pb = np.where(small, 0, Mr)
            pay_v[reuse] = pv
            pay_b[reuse] = pb
        if is_new.any():
            Mn = mlen_a[is_new]
            ctrl13 = (
                np.uint64(0b11 << 11)
                | (lead_a[is_new].astype(np.uint64) << np.uint64(6))
                | (Mn - 1).astype(np.uint64)
            )
            payload = xors[is_new] >> trail_a[is_new].astype(np.uint64)
            small = Mn <= 51
            cv = np.where(
                small, (ctrl13 << Mn.astype(np.uint64)) | payload, ctrl13
            )
            cb = np.where(small, Mn + 13, 13)
            ctrl_v[is_new] = cv
            ctrl_b[is_new] = cb
            pay_v[is_new] = np.where(small, np.uint64(0), payload)
            pay_b[is_new] = np.where(small, 0, Mn)

        inter_v = np.stack([ctrl_v, pay_v], axis=1).reshape(-1)
        inter_b = np.stack([ctrl_b, pay_b], axis=1).reshape(-1)
        keep = inter_b > 0
        tv.append(inter_v[keep])
        tb.append(inter_b[keep])
    all_v = np.concatenate(tv)
    all_b = np.concatenate(tb)
    if int((all_v == 0).sum()) > len(all_v) >> 3:
        all_v, all_b = _merge_zero_tokens(all_v, all_b)
    return _pack_tokens(all_v, all_b)


def encode_chunk_ref(timestamps: np.ndarray, values: np.ndarray) -> bytes:
    """Reference scalar encoder (the round-1 implementation) — kept as the
    bit-identity oracle for the vectorized encoder."""
    ts = np.asarray(timestamps, dtype=np.int64)
    vals = np.asarray(values, dtype=np.float64)
    n = len(ts)
    w = _BitWriter()
    w.write(n, 32)
    if n == 0:
        return w.bytes()

    # -- timestamps: delta-of-delta --
    w.write(int(ts[0]) & ((1 << 64) - 1), 64)
    deltas = np.diff(ts)
    if n > 1:
        w.write(_zigzag(int(deltas[0])), 64)  # first delta raw (zigzag)
        dod_list = np.diff(deltas) if n > 2 else np.array([], dtype=np.int64)
        for dod in dod_list:
            dod = int(dod)
            if dod == 0:
                w.write(0, 1)
            elif -63 <= dod <= 64:
                w.write(0b10, 2)
                w.write(dod + 63, 7)
            elif -255 <= dod <= 256:
                w.write(0b110, 3)
                w.write(dod + 255, 9)
            elif -2047 <= dod <= 2048:
                w.write(0b1110, 4)
                w.write(dod + 2047, 12)
            else:
                w.write(0b1111, 4)
                w.write(_zigzag(dod), 64)

    # -- values: XOR --
    bits = vals.view(_U64)
    w.write(int(bits[0]), 64)
    prev = int(bits[0])
    prev_lead, prev_len = -1, 0  # no previous window
    if n > 1:
        xors = np.bitwise_xor(bits[1:], bits[:-1])
        for x in xors:
            x = int(x)
            if x == 0:
                w.write(0, 1)
                continue
            lead = 64 - x.bit_length()
            trail = (x & -x).bit_length() - 1
            if lead > 31:
                lead = 31  # 5-bit field
            mlen = 64 - lead - trail
            if (
                prev_lead >= 0
                and lead >= prev_lead
                and trail >= 64 - prev_lead - prev_len
            ):
                # fits in previous window: '10' + prev_len bits
                w.write(0b10, 2)
                w.write(x >> (64 - prev_lead - prev_len), prev_len)
            else:
                w.write(0b11, 2)
                w.write(lead, 5)
                w.write(mlen - 1, 6)  # 1..64 stored as 0..63
                w.write(x >> trail, mlen)
                prev_lead, prev_len = lead, mlen
            prev ^= x
    return w.bytes()


def decode_chunk(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    r = _BitReader(blob)
    n = r.read(32)
    ts = np.empty(n, dtype=np.int64)
    vals = np.empty(n, dtype=np.float64)
    if n == 0:
        return ts, vals

    t0 = r.read(64)
    if t0 >= 1 << 63:
        t0 -= 1 << 64
    ts[0] = t0
    if n > 1:
        delta = _unzigzag(r.read(64))
        ts[1] = ts[0] + delta
        for i in range(2, n):
            if r.read(1) == 0:
                dod = 0
            elif r.read(1) == 0:
                dod = r.read(7) - 63
            elif r.read(1) == 0:
                dod = r.read(9) - 255
            elif r.read(1) == 0:
                dod = r.read(12) - 2047
            else:
                dod = _unzigzag(r.read(64))
            delta += dod
            ts[i] = ts[i - 1] + delta

    bits = np.empty(n, dtype=np.uint64)
    prev = r.read(64)
    bits[0] = prev
    prev_lead, prev_len = -1, 0
    for i in range(1, n):
        if r.read(1) == 0:
            bits[i] = prev
            continue
        if r.read(1) == 0:
            # previous window
            payload = r.read(prev_len)
            x = payload << (64 - prev_lead - prev_len)
        else:
            lead = r.read(5)
            mlen = r.read(6) + 1
            payload = r.read(mlen)
            trail = 64 - lead - mlen
            x = payload << trail
            prev_lead, prev_len = lead, mlen
        prev ^= x
        bits[i] = prev
    vals[:] = bits.view(np.float64)
    return ts, vals


# ---------------------------------------------------------------------------
# DataFrame-level encode/decode
# ---------------------------------------------------------------------------


def _points(arr: pa.ListArray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(offsets, timestamps, values) of a list<struct<_ts, _v>> column:
    row r's points are ``[offsets[r], offsets[r + 1])`` of the two flat
    arrays. Null values read as NaN."""
    ts, vals = arr.values.flatten()
    if ts.null_count:
        raise ValueError("Gorilla encode: null timestamp")
    return (arr.offsets.to_numpy(), ts.to_numpy(),
            vals.to_numpy(zero_copy_only=False))


def encode_series(
    df: DataFrame,
    series_cols=("source",),
    ts_col: str = "bucket_ts",
    value_col: str = "value_sum",
    chunk: str = "day",
) -> DataFrame:
    """(series..., chunk_start, codec_blob, n_points, checksum) — one Gorilla
    blob per series per chunk, rows time-sorted inside each blob.

    The points are packed into ARRAYS on the JVM side (partial-aggregating
    ``collect_list`` + ``sort_array``) before crossing into Python, so the
    Arrow exchange carries one row per (series, chunk) with two array cells
    instead of one row per point — the per-row exchange overhead, not the
    numpy kernel, dominates encode cost at tier sizes. ``mapInArrow`` hands
    each batch's arrays to the kernel as slices of one flat buffer per
    column (Arrow list offsets), with no pandas object array between."""
    series_cols = list(series_cols)
    # mapInArrow resolves its input columns by unquoted name, so the keys
    # travel under plain positional names and get theirs back on output
    keys = [f"_k{i}" for i in range(len(series_cols))]
    grouped = (
        df.selectExpr(
            *[f"{ident(c)} AS {k}" for c, k in zip(series_cols, keys)],
            f"CAST(date_trunc('{chunk}', {ident(ts_col)}) AS BIGINT) AS chunk_start",
            f"CAST({ident(ts_col)} AS BIGINT) AS _ts",
            f"CAST({ident(value_col)} AS DOUBLE) AS _v",
        )
        .groupBy(*keys, "chunk_start")
        .agg(F.expr("sort_array(collect_list(struct(_ts, _v))) AS _pts"))
    )
    n_keep = len(series_cols) + 1
    names = [*series_cols, "chunk_start", "codec_blob", "n_points", "checksum"]
    out_schema = StructType(
        [StructField(c, f.dataType, f.nullable)
         for c, f in zip(series_cols, grouped.schema.fields)]
        + [
            StructField("chunk_start", LongType()),
            StructField("codec_blob", BinaryType()),
            StructField("n_points", IntegerType()),
            StructField("checksum", LongType()),
        ]
    )

    def enc(batches):
        for b in batches:
            offs, tss, vs = _points(b.column(n_keep))
            blobs, csums = [], []
            for lo, hi in zip(offs[:-1], offs[1:]):
                t, v = tss[lo:hi], vs[lo:hi]
                blobs.append(encode_chunk(t, v))
                csums.append(int((t.astype(np.uint64).sum()
                                  + v.view(np.uint64).sum()) % np.uint64(1 << 63)))
            yield pa.RecordBatch.from_arrays(
                b.columns[:n_keep] + [
                    pa.array(blobs, pa.binary()),
                    pa.array(np.diff(offs).astype(np.int32)),
                    pa.array(csums, pa.int64()),
                ],
                names=names,
            )

    return grouped.mapInArrow(enc, out_schema)


# decoded points per Arrow batch handed back to the JVM: the Arrow batch
# size bounds blob rows, not points, and one day of a 1m series is 1,440
_DECODE_BATCH_POINTS = 1 << 16


def decode_series(
    encoded: DataFrame,
    series_cols=("source",),
    ts_col: str = "bucket_ts",
    value_col: str = "value",
) -> DataFrame:
    """(series..., ts_col, value_col) — every point of every blob. Each blob
    decodes on its own, so this is one ``mapInArrow`` over the blob rows: no
    shuffle, no per-series pandas frame."""
    series_cols = list(series_cols)
    out_schema = StructType(
        [encoded.schema[c] for c in series_cols]
        + [
            StructField(ts_col, LongType()),
            StructField(value_col, DoubleType(), True),
        ]
    )
    names = [*series_cols, ts_col, value_col]
    n_keys = len(series_cols)

    def dec(batches):
        for b in batches:
            blobs = b.column(n_keys).to_pylist()
            start = 0
            while start < len(blobs):
                rows, tss, vals, points = [], [], [], 0
                stop = start
                while stop < len(blobs) and points < _DECODE_BATCH_POINTS:
                    t, v = decode_chunk(blobs[stop])
                    rows.append(np.full(len(t), stop - start, dtype=np.int64))
                    tss.append(t)
                    vals.append(v)
                    points += len(t)
                    stop += 1
                idx = pa.array(np.concatenate(rows))
                keys = [c.slice(start, stop - start).take(idx)
                        for c in b.columns[:n_keys]]
                yield pa.RecordBatch.from_arrays(
                    keys + [pa.array(np.concatenate(tss)),
                            pa.array(np.concatenate(vals))],
                    names=names,
                )
                start = stop

    # positional key names: see encode_series
    return encoded.selectExpr(
        *[f"{ident(c)} AS _k{i}" for i, c in enumerate(series_cols)],
        "codec_blob",
    ).mapInArrow(dec, out_schema)

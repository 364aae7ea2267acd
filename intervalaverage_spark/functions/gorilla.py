"""Gorilla compression: delta-of-delta timestamps + XOR-encoded doubles.

The north-star mandates per-partition segment blobs in the Gorilla format
(Pelkonen et al., "Gorilla: A Fast, Scalable, In-Memory Time Series
Database", VLDB 2015 — PUBLIC paper; scheme reimplemented from the paper's
§4.1, no code copied):

timestamps (int64, sorted):
    header: t0 as 64 raw bits, d0 = t1-t0 as 64 raw bits
    then per point the delta-of-delta D:
        D == 0                → '0'
        D ∈ [-63, 64]         → '10'   + 7  bits (D+63)
        D ∈ [-255, 256]       → '110'  + 9  bits (D+255)
        D ∈ [-2047, 2048]     → '1110' + 12 bits (D+2047)
        else                  → '1111' + 64 bits (two's complement)

values (float64 bit patterns):
    v0 as 64 raw bits; then XOR with previous value:
        xor == 0                                  → '0'
        leading/trailing-zero window ⊆ previous   → '10' + meaningful bits
        else → '11' + 5 bits leading-zero count + 6 bits (len-1)
                    + len meaningful bits

Encoding is numpy-vectorized end to end (timestamps AND values): each
point maps to fixed-arity (code, nbits) entries, then ONE ragged bit-pack
(searchsorted over cumulative bit offsets → np.packbits). The value
ENCODER policy is chosen for vectorization: one meaningful-bit window per
blob — the widest any XOR needs, (min leading zeros, min trailing zeros)
over the segment — emitted once via '11' with the first non-zero XOR,
'10' for every later non-zero XOR. Any decoder of the grammar above reads
it (every XOR fits the window by construction); round-trip stays
bit-exact, and the repeated '11' headers of the per-point-adaptive policy
disappear. Trade-off: one pathological XOR (e.g. value↔NaN flips) widens
the window for the whole segment — segments are tier-width-bounded, so
the blast radius is one window of points. Decoding is a byte-sliding bit
reader whose '0'-entry RUNS (repeated values / constant deltas — the
dominant symbol in real telemetry) are consumed in bulk numpy fills via a
set-bit index; only non-repeat entries pay a Python iteration (measured
45× on repeat-heavy series, ≈par on fully dense ones — BENCH/NOTES.md).

Spark integration: ``encode_segments`` shuffles points on (group…,
tier-window segment), sorts each partition and encodes it in ONE
``mapInArrow`` call — the Arrow-batched vectorized-UDF boundary
BASELINE.json's input_hint mandates (no per-row Python), paid per batch
rather than per segment; segments are cut by vectorized key-change
detection, one BinaryType blob each. ``decode_segments`` inverts it.
Round-trip is bit-exact (NaNs included: payloads are raw
float64 bit patterns).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAGIC = b"GOR1"


# ---------------------------------------------------------------- bit pack

def _pack(codes: np.ndarray, nbits: np.ndarray) -> bytes:
    """Pack (code, nbits) entries MSB-first into bytes.

    Per-ENTRY vectorization: each entry (≤64 bits) spans at most two
    64-bit stream words, so two scatter-ORs place everything — O(entries)
    work and memory instead of the O(total_bits) per-bit index arrays a
    naive vectorization needs (measured ~40× on 500k-point blobs)."""
    codes = codes.astype(np.uint64, copy=False)
    nbits = nbits.astype(np.int64, copy=False)
    keep = nbits > 0
    codes, nbits = codes[keep], nbits[keep]
    if len(codes) == 0:
        return b""
    # mask to declared width (defensive: callers may carry sign bits)
    full = nbits >= 64
    mask = (np.uint64(1) << np.where(full, 0, nbits).astype(np.uint64)) - np.uint64(1)
    codes = np.where(full, codes, codes & mask)

    ends = np.cumsum(nbits)
    total = int(ends[-1])
    starts = ends - nbits
    w0 = starts >> 6
    avail = 64 - (starts & 63)          # bits left in the first word
    sh1 = nbits - avail                 # >0 → entry spills into next word
    spill = sh1 > 0
    pos_sh = np.where(spill, sh1, 0).astype(np.uint64)
    neg_sh = np.where(spill, 0, -sh1).astype(np.uint64)
    hi = np.where(spill, codes >> pos_sh, codes << neg_sh)
    # low sh1 bits land at the top of the next word (sh1 ≤ 63 since avail ≥ 1);
    # non-spilling entries contribute a harmless 0 at their own word, which
    # keeps the interleaved word-index sequence non-decreasing → one
    # bitwise_or.reduceat instead of the (slow) scattered ufunc.at.
    lo = np.where(spill, codes << ((64 - pos_sh) % np.uint64(64)), np.uint64(0))
    widx = np.empty(2 * len(codes), dtype=np.int64)
    vals = np.empty(2 * len(codes), dtype=np.uint64)
    widx[0::2], widx[1::2] = w0, w0 + spill
    vals[0::2], vals[1::2] = hi, lo
    bounds = np.concatenate([[0], np.flatnonzero(np.diff(widx)) + 1])
    words = np.zeros(((total + 63) >> 6) + 1, dtype=np.uint64)
    words[widx[bounds]] = np.bitwise_or.reduceat(vals, bounds)
    return words.astype(">u8").tobytes()[: (total + 7) >> 3]


class _BitReader:
    """MSB-first bit reader: slices only the covering bytes per take —
    O(n/8) small-int work, no per-bit Python loop."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = bytes(buf)
        self.pos = 0

    def take(self, n: int) -> int:
        p = self.pos
        self.pos = p + n
        b0, b1 = p >> 3, (p + n + 7) >> 3
        chunk = int.from_bytes(self.buf[b0:b1], "big")
        return (chunk >> ((b1 << 3) - p - n)) & ((1 << n) - 1)


# ------------------------------------------------------------- timestamps

def _encode_ts(ts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    n = len(ts)
    if n == 1:
        return np.array([ts[0]], dtype=np.uint64), np.array([64])
    d = np.diff(ts)
    if n == 2:
        return (np.array([ts[0], d[0]], dtype=np.uint64), np.array([64, 64]))
    dod = np.diff(d)
    # vectorized class selection
    c0 = dod == 0
    c1 = (dod >= -63) & (dod <= 64)
    c2 = (dod >= -255) & (dod <= 256)
    c3 = (dod >= -2047) & (dod <= 2048)
    ctrl = np.where(c0, 0, np.where(c1, 1, np.where(c2, 2, np.where(c3, 3, 4))))
    ctrl_code = np.array([0b0, 0b10, 0b110, 0b1110, 0b1111], dtype=np.uint64)[ctrl]
    ctrl_bits = np.array([1, 2, 3, 4, 4])[ctrl]
    pay_code = np.select(
        [ctrl == 1, ctrl == 2, ctrl == 3, ctrl == 4],
        [dod + 63, dod + 255, dod + 2047, dod.astype(np.int64)],
        default=0,
    ).astype(np.int64).astype(np.uint64)
    pay_bits = np.array([0, 7, 9, 12, 64])[ctrl]
    m = len(dod)
    codes = np.empty(2 + 2 * m, dtype=np.uint64)
    nbits = np.empty(2 + 2 * m, dtype=np.int64)
    codes[0], nbits[0] = np.uint64(ts[0]), 64
    codes[1], nbits[1] = np.uint64(d[0]), 64
    codes[2::2], nbits[2::2] = ctrl_code, ctrl_bits
    codes[3::2], nbits[3::2] = pay_code, pay_bits
    return codes, nbits


def _bit_index(buf: bytes) -> tuple[bytes, np.ndarray]:
    """(one byte per BIT, positions of set bits) — the control-bit skip
    index that lets the decoders consume whole '0'-entry runs in one numpy
    step instead of one Python iteration per point (a '0' control bit is by
    far the hottest symbol in real series: repeated values / constant
    deltas). The per-bit bytes object gates the (comparatively costly)
    searchsorted: dense streams with no zero runs pay only one C-speed
    ``bytes[pos]`` probe per entry. Transient 8× blow-up of the blob —
    segment blobs are tier-width-bounded, so this is KBs, not GBs."""
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
    return bits.tobytes(), np.flatnonzero(bits)


def _decode_ts(r: _BitReader, n: int) -> np.ndarray:
    out = np.empty(n, dtype=np.int64)
    t0 = np.uint64(r.take(64)).astype(np.int64)
    out[0] = t0
    if n == 1:
        return out
    d = int(np.uint64(r.take(64)).astype(np.int64))
    out[1] = out[0] + d
    bits, ones = _bit_index(r.buf)
    n_ones = len(ones)
    i = 2
    while i < n:
        # bulk: a run of '0' control bits = dod 0 repeated = arithmetic
        # progression with the current delta — one vectorized fill
        # (probe inlined: dense streams pay one bytes[pos] check per entry)
        if not bits[r.pos]:
            j = int(np.searchsorted(ones, r.pos))
            nxt = int(ones[j]) if j < n_ones else r.pos + (n - i)
            zrun = min(nxt - r.pos, n - i)
            out[i : i + zrun] = out[i - 1] + d * np.arange(1, zrun + 1, dtype=np.int64)
            r.pos += zrun
            i += zrun
            if i >= n:
                break
        r.pos += 1  # the '1' control bit
        if r.take(1) == 0:
            dod = r.take(7) - 63
        elif r.take(1) == 0:
            dod = r.take(9) - 255
        elif r.take(1) == 0:
            dod = r.take(12) - 2047
        else:
            dod = int(np.uint64(r.take(64)).astype(np.int64))
        d = d + dod
        out[i] = out[i - 1] + d
        i += 1
    return out


# ------------------------------------------------------------------ values

def _encode_vals(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized value encoding: ONE meaningful-bit window per blob (see
    module docstring). No per-point Python — the layout is
    ``[v0 raw] [leading '0's] ['11' header + first payload]`` followed by
    exactly two (code, nbits) slots per remaining point ('0' pads with a
    zero-width slot, which _pack drops)."""
    bits = np.ascontiguousarray(vals, dtype=np.float64).view(np.uint64)
    n = len(bits)
    xor = np.zeros(n, dtype=np.uint64)
    xor[1:] = bits[1:] ^ bits[:-1]
    nz = xor != np.uint64(0)
    nz[0] = False  # first value is stored raw
    if not nz.any():
        codes = np.zeros(n, dtype=np.uint64)
        nbits = np.ones(n, dtype=np.int64)
        codes[0], nbits[0] = bits[0], 64
        return codes, nbits

    xnz = xor[nz]
    lz = int(min(np.min(64 - _bit_length(xnz)), 31))  # 5-bit header field
    tz = int(np.min(_trailing_zeros(xnz)))
    ln = 64 - lz - tz
    first = int(np.flatnonzero(nz)[0])

    tail = np.arange(first + 1, n)
    tnz = nz[tail]
    tcodes = np.zeros((len(tail), 2), dtype=np.uint64)
    tbits = np.zeros((len(tail), 2), dtype=np.int64)
    tcodes[:, 0] = np.where(tnz, np.uint64(0b10), np.uint64(0))
    tbits[:, 0] = np.where(tnz, 2, 1)
    tcodes[:, 1] = np.where(tnz, xor[tail] >> np.uint64(tz), np.uint64(0))
    tbits[:, 1] = np.where(tnz, ln, 0)

    codes = np.concatenate([
        np.array([bits[0]], dtype=np.uint64),
        np.zeros(first - 1, dtype=np.uint64),          # '0' repeats before first nz
        np.array([0b11, lz, ln - 1, int(xor[first]) >> tz], dtype=np.uint64),
        tcodes.ravel(),
    ])
    nbits = np.concatenate([
        np.array([64], dtype=np.int64),
        np.ones(first - 1, dtype=np.int64),
        np.array([2, 5, 6, ln], dtype=np.int64),
        tbits.ravel(),
    ])
    return codes, nbits


def _bit_length(x: np.ndarray) -> np.ndarray:
    out = np.zeros(len(x), dtype=np.int64)
    v = x.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        m = v >= (np.uint64(1) << np.uint64(shift))
        out[m] += shift
        v[m] >>= np.uint64(shift)
    out[x > 0] += 1
    return out


def _trailing_zeros(x: np.ndarray) -> np.ndarray:
    out = np.zeros(len(x), dtype=np.int64)
    v = x.copy()
    nz = v != 0
    for shift in (32, 16, 8, 4, 2, 1):
        mask = (np.uint64(1) << np.uint64(shift)) - np.uint64(1)
        m = nz & ((v & mask) == 0)
        out[m] += shift
        v[m] >>= np.uint64(shift)
    out[~nz] = 64
    return out


def _decode_vals(r: _BitReader, n: int) -> np.ndarray:
    """Two-pass value decode (round-4 dense-path rework, ~10× on
    window-stable dense streams — BENCH/NOTES.md):

    * pass 1 — a sequential TOKEN scan only: walk control bits via cheap
      ``bytes[pos]`` probes, record (payload position, length, trailing
      zeros) per non-repeat entry, bulk-skip '0'-entry runs through the
      set-bit index. No payload is read here — per '10' token this is
      two byte probes + integer adds, not an ``int.from_bytes`` slice.
    * pass 2 — everything value-shaped vectorized: all payload bitfields
      extracted at once (flat gather + shift + ``add.reduceat``) and the
      XOR chain folded with ``np.bitwise_xor.accumulate`` (zero-run
      entries contribute x=0, reproducing the repeat).
    """
    prev0 = np.uint64(r.take(64))
    if n == 1:
        r_out = np.array([prev0], dtype=np.uint64)
        return r_out.view(np.float64)
    arr = np.unpackbits(np.frombuffer(r.buf, dtype=np.uint8))
    b = arr.tobytes()
    ones = None  # set-bit skip index, built LAZILY on the first zero run
    pos = r.pos
    p_lz = p_tz = -1
    ent_i: list[int] = []   # output slot (1-based) of each non-repeat entry
    starts: list[int] = []
    lens_: list[int] = []
    tzs: list[int] = []
    i = 1
    while i < n:
        # bulk: a '0'-entry run = the previous value repeated — one skip
        if not b[pos]:
            if ones is None:
                ones = np.flatnonzero(arr)
            j = int(np.searchsorted(ones, pos))
            nxt = int(ones[j]) if j < len(ones) else pos + (n - i)
            zrun = min(nxt - pos, n - i)
            pos += zrun
            i += zrun
            if i >= n:
                break
        pos += 1  # the '1' control bit
        if not b[pos]:  # '10' reuse window
            pos += 1
            ln = 64 - p_lz - p_tz
        else:  # '11' new window: 5-bit lz + 6-bit (ln-1)
            pos += 1
            p_lz = ((b[pos] << 4) | (b[pos + 1] << 3) | (b[pos + 2] << 2)
                    | (b[pos + 3] << 1) | b[pos + 4])
            pos += 5
            ln = ((b[pos] << 5) | (b[pos + 1] << 4) | (b[pos + 2] << 3)
                  | (b[pos + 3] << 2) | (b[pos + 4] << 1) | b[pos + 5]) + 1
            pos += 6
            p_tz = 64 - p_lz - ln
        ent_i.append(i)
        starts.append(pos)
        lens_.append(ln)
        tzs.append(p_tz)
        pos += ln
        i += 1
    r.pos = pos

    xs = np.zeros(n - 1, dtype=np.uint64)
    if ent_i:
        # Payload extraction WITHOUT an unpacked-bit gather: each field is
        # ≤ 64 bits, so it lives inside the 16-byte window starting at its
        # byte. Two big-endian uint64 reads per entry (O(n·16) bytes of
        # temporaries — large fresh allocations are the measured bottleneck
        # on this box, and the naive per-bit gather needs O(n·64·8)).
        st = np.asarray(starts, dtype=np.int64)
        ln_a = np.asarray(lens_, dtype=np.uint64)
        buf = np.frombuffer(r.buf + b"\x00" * 16, dtype=np.uint8)
        byte0 = (st >> 3).astype(np.int64)
        win = buf[byte0[:, None] + np.arange(16, dtype=np.int64)]
        hi = np.ascontiguousarray(win[:, :8]).view(">u8")[:, 0].astype(np.uint64)
        lo = np.ascontiguousarray(win[:, 8:]).view(">u8")[:, 0].astype(np.uint64)
        o = (st & 7).astype(np.uint64)
        # align field start to bit 63 of a single uint64: (hi << o) | the
        # spill-in from lo; shifts of 64 are UB, so feed a safe dummy and
        # select with where
        lo_shift = np.where(o == 0, np.uint64(1), np.uint64(64) - o)
        aligned = np.where(o == 0, hi, (hi << o) | (lo >> lo_shift))
        fields = aligned >> (np.uint64(64) - ln_a)
        xs[np.asarray(ent_i, dtype=np.int64) - 1] = (
            fields << np.asarray(tzs, dtype=np.uint64)
        )
    out = np.bitwise_xor.accumulate(
        np.concatenate([np.array([prev0], dtype=np.uint64), xs])
    )
    return out.view(np.float64)


# -------------------------------------------------------------- public API

def gorilla_encode(ts: np.ndarray, vals: np.ndarray) -> bytes:
    """Encode sorted int64 timestamps + float64 values into one blob."""
    ts = np.asarray(ts, dtype=np.int64)
    vals = np.asarray(vals, dtype=np.float64)
    if len(ts) != len(vals):
        raise ValueError("ts and vals must align")
    if len(ts) == 0:
        return MAGIC + (0).to_bytes(4, "big")
    if np.any(np.diff(ts) < 0):
        raise ValueError("timestamps must be sorted")
    tc, tb = _encode_ts(ts)
    vc, vb = _encode_vals(vals)
    ts_blob = _pack(tc, tb)
    v_blob = _pack(vc, vb)
    return (
        MAGIC
        + len(ts).to_bytes(4, "big")
        + len(ts_blob).to_bytes(4, "big")
        + ts_blob
        + v_blob
    )


def gorilla_decode(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    if blob[:4] != MAGIC:
        raise ValueError("not a GOR1 blob")
    n = int.from_bytes(blob[4:8], "big")
    if n == 0:
        return np.array([], dtype=np.int64), np.array([], dtype=np.float64)
    ts_len = int.from_bytes(blob[8:12], "big")
    ts = _decode_ts(_BitReader(blob[12 : 12 + ts_len]), n)
    vals = _decode_vals(_BitReader(blob[12 + ts_len :]), n)
    return ts, vals


SEGMENT_SUFFIX_SCHEMA = (
    "seg_start long, n_points long, t_min long, t_max long, codec string, blob binary"
)


def encode_segments(
    points: DataFrame,
    group_vars: Sequence[str],
    t_col: str,
    value_col: str,
    segment_width: int,
) -> DataFrame:
    """(group…, t, v) points → one Gorilla blob per (group…, segment window).

    Explicit ``seg_start = floor(t/width)*width`` key keeps segments
    bounded and partition-prunable. Null values are stored as NaN bit
    patterns (restored as nulls on decode); null group keys are kept.

    One path, paid per Arrow batch rather than per segment: shuffle on
    (group…, seg), sort each partition by (group…, seg, t), then one
    ``mapInArrow`` call per partition cuts its batches into segments by
    vectorized key-change detection (:func:`_segment_starts`) and encodes
    each. A segment split across two batches is carried into the next.
    Arrow, not pandas, so keys compare and come back in their exact type
    (a nullable long key would turn float64 in pandas)."""
    gv = list(group_vars)
    keys = [*gv, "__seg"]
    seg = (F.floor(F.col(t_col) / F.lit(segment_width)) * segment_width).cast("long")
    pts = points.select(*gv, seg.alias("__seg"), F.col(t_col).alias("__t"),
                        F.col(value_col).cast("double").alias("__v"))
    out_schema = ", ".join(
        [f"`{g}` {points.schema[g].dataType.simpleString()}" for g in gv]
        + [SEGMENT_SUFFIX_SCHEMA]
    )

    def enc(batches):
        open_: list[pa.Table] = []  # pieces of the segment still open
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            if not tbl.num_rows:
                continue
            starts = _segment_starts(tbl, keys, open_[-1] if open_ else None)
            if not len(starts):
                open_.append(tbl)
                continue
            if open_:
                yield from _encode_runs(
                    pa.concat_tables([*open_, tbl.slice(0, starts[0])]), [0], gv)
            if len(starts) > 1:
                yield from _encode_runs(
                    tbl.slice(starts[0], starts[-1] - starts[0]), starts[:-1] - starts[0], gv)
            open_ = [tbl.slice(starts[-1])]
        if open_:
            yield from _encode_runs(pa.concat_tables(open_), [0], gv)

    return (
        pts.repartition(*keys)
        .sortWithinPartitions(*keys, "__t")
        .mapInArrow(enc, schema=out_schema)
    )


def _segment_starts(tbl: pa.Table, keys: Sequence[str], prev: pa.Table | None) -> np.ndarray:
    """Rows of ``tbl`` where a new segment begins: a key differs from the
    row before (nulls equal nulls, NaN equals NaN, as in Spark's grouping).
    Row 0 is compared with the last row of ``prev``, the segment left open
    by the previous batch; without ``prev`` it always begins one."""
    if prev is not None:
        tbl = pa.concat_tables([prev.slice(prev.num_rows - 1).select(keys), tbl.select(keys)])
    n = tbl.num_rows
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for k in keys:
        col = tbl.column(k)
        cur, before = col.slice(1), col.slice(0, n - 1)
        differs = pc.fill_null(pc.not_equal(cur, before), False)
        if pa.types.is_floating(col.type):
            both_nan = pc.fill_null(pc.and_(pc.is_nan(cur), pc.is_nan(before)), False)
            differs = pc.and_not(differs, both_nan)
        differs = pc.or_(differs, pc.not_equal(pc.is_null(cur), pc.is_null(before)))
        change[1:] |= differs.to_numpy()
    return np.flatnonzero(change[1:] if prev is not None else change)


def _encode_runs(tbl: pa.Table, starts, group_vars: Sequence[str]):
    """Encode the segments of ``tbl``, one beginning at each of ``starts``
    (ascending, the first 0) and running to the next; yields the output
    record batches."""
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.append(starts[1:], tbl.num_rows)
    ts = tbl.column("__t").to_numpy()
    vals = pc.fill_null(tbl.column("__v"), np.nan).to_numpy()  # nulls → NaN
    first = pa.array(starts)
    out = {g: tbl.column(g).take(first) for g in group_vars}
    out.update(
        seg_start=tbl.column("__seg").take(first),
        n_points=pa.array(ends - starts),
        t_min=pa.array(ts[starts]),
        t_max=pa.array(ts[ends - 1]),
        codec=pa.array(["gorilla-v1"] * len(starts), pa.string()),
        blob=pa.array([gorilla_encode(ts[a:b], vals[a:b]) for a, b in zip(starts, ends)],
                      pa.binary()),
    )
    yield from pa.table(out).to_batches()


def decode_segments(
    segments: DataFrame,
    group_vars: Sequence[str],
    t_col: str = "t",
    value_col: str = "v",
) -> DataFrame:
    """Inverse of :func:`encode_segments`: blobs → (group…, t, v) points.

    Each segment row decodes on its own, so this is one ``mapInArrow`` per
    Arrow batch with no shuffle and no grouping. Group keys repeat with
    Arrow ``take``, keeping their exact type; NaN payloads (how nulls are
    stored) come back as null values."""
    gv = list(group_vars)
    out_schema = ", ".join(
        [f"`{g}` {segments.schema[g].dataType.simpleString()}" for g in gv]
        + [f"`{t_col}` long", f"`{value_col}` double"]
    )

    def dec(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            parts = [gorilla_decode(blob) for blob in batch.column("blob").to_pylist()]
            rows = np.repeat(np.arange(batch.num_rows), [len(ts) for ts, _ in parts])
            out = {g: batch.column(g).take(pa.array(rows)) for g in gv}
            out[t_col] = pa.array(np.concatenate([ts for ts, _ in parts]))
            out[value_col] = pa.array(np.concatenate([v for _, v in parts]), from_pandas=True)
            yield from pa.table(out).to_batches()

    return segments.select(*gv, "blob").mapInArrow(dec, schema=out_schema)

"""Time-series compression codecs (SURVEY.md §2.4 C1-C4).

Delta-of-delta timestamp encoding and Gorilla XOR value compression
(Pelkonen et al., "Gorilla: A Fast, Scalable, In-Memory Time Series
Database", VLDB 2015 — public paper; absent from the reference, which
mandates them via BASELINE.json:6). The Spark boundary is Arrow end
to end (BASELINE.json:15): segments are framed JVM-side (one blob row
per (source, series_id, segment)) and encoded by scalar ``arrow_udf``s
that hand each kernel a slice of the list column's flat child array
(offsets + values; the validity bitmap is the null mask); decode is
``mapInArrow``, building each output column as one Arrow array. No
pandas object is made on either side.

Bit layout (normative; independently re-implemented by tests/oracle.py
as a cross-check — the two implementations must produce identical
bytes):

  DoD ts:  8b width marker (64) | 64b t0 | 64b zigzag(first delta)
           | per further point: '0' dod=0; '10'+7b  dod∈[-63,64];
             '110'+9b [-255,256]; '1110'+12b [-2047,2048];
             '1111'+64b zigzag(dod)   (payloads offset-coded from lo;
             64-bit first-delta/escape so microsecond grids fit)

  XOR val (v2, columnar streams — Gorilla XOR with run-bounded window
  reuse so BOTH encode and decode are branch-free numpy):
    [1B version=2]
    [ceil(2n/8)B controls]  2-bit code per point, MSB-first:
        00 repeat (xor==0 vs previous non-null value; 0-state start)
        01 reuse governing window    10 new window    11 NULL
    [ceil(11W/8)B windows]  per '10' code: 5b lead | 6b (meaning-1)
    [payload bits]          per '01'/'10' code: meaning-wide xor>>tz
    A window is (lead=min(lz,31), meaning=64-lead-tz) of the xor that
    opened it; reuse happens exactly while consecutive non-zero xors
    share (lead, tz) — a *run*, decided vectorized (np.diff), unlike
    classic Gorilla's stateful fits-in-window test. Nulls carry no
    payload and do not advance the value chain (a null bitmap in the
    control stream — raw frames with null values round-trip as null,
    while genuine NaN values round-trip via their IEEE bit pattern).
    There is no separate v0 field: point 0 xors against 0, so +0.0
    opens with a '00'.

Both directions are numpy-vectorized end to end: per-element variable-
width fields are scattered into a bit buffer with a repeat/cumsum
index trick (no per-bit Python) and np.packbits on encode; decode
reads fixed-width streams with gather matrices, recovers DoD record
boundaries by pointer-doubling over position-local record lengths,
and rebuilds the value chain with np.bitwise_xor.accumulate. There is
no per-point Python loop anywhere in the codec.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from tokens_ts import config as C

# ---------------------------------------------------------------------------
# bit packing primitives (vectorized)
# ---------------------------------------------------------------------------


def _pack_fields(vals: np.ndarray, widths: np.ndarray) -> bytes:
    """Pack per-element (value, bit-width) fields MSB-first into bytes.

    Fully vectorized, two strategies by field shape (identical bytes):
    - narrow fields (mean width < 16): repeat/cumsum per-bit expansion —
      one shift+mask per bit lane, then np.packbits;
    - wide fields (escape-heavy XOR streams, 64-bit DoD escapes): the
      repeat expansion costs ~5 int64 temp arrays PER OUTPUT BIT, so
      group elements by width and scatter each group's (k, w) bit
      matrix into the output lane buffer instead — measured ~18× faster
      at mean width ≈50 (random mantissas), the exact stream the
      round-2 scaling run flagged.
    """
    vals = vals.astype(np.uint64)
    widths = widths.astype(np.int64)
    total = int(widths.sum())
    if total == 0:
        return b""
    starts = np.concatenate(([0], np.cumsum(widths)[:-1]))
    if total >= 16 * vals.size:
        bits = np.zeros(total, dtype=np.uint8)
        for w in np.unique(widths):
            if w == 0:
                continue
            grp = np.flatnonzero(widths == w)
            lanes = np.arange(int(w), dtype=np.int64)
            dst = starts[grp][:, None] + lanes[None, :]
            shifts = (int(w) - 1 - lanes).astype(np.uint64)
            bits[dst.ravel()] = (
                (vals[grp][:, None] >> shifts[None, :]) & np.uint64(1)
            ).astype(np.uint8).ravel()
        return np.packbits(bits).tobytes()
    elem = np.repeat(np.arange(vals.size, dtype=np.int64), widths)
    pos_in_field = np.arange(total, dtype=np.int64) - starts[elem]
    shift = (widths[elem] - 1 - pos_in_field).astype(np.uint64)
    bits = ((vals[elem] >> shift) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits).tobytes()


def _zigzag64(d: np.ndarray) -> np.ndarray:
    d = d.astype(np.int64)
    return ((d << 1) ^ (d >> 63)).astype(np.uint64)


# ---------------------------------------------------------------------------
# C1: delta-of-delta timestamp encode (vectorized)
# ---------------------------------------------------------------------------

_DOD_LO = np.array([-63, -255, -2047], dtype=np.int64)
_DOD_HI = np.array([64, 256, 2048], dtype=np.int64)
_DOD_CTRL = np.array([0b10, 0b110, 0b1110], dtype=np.uint64)
_DOD_CBITS = np.array([2, 3, 4], dtype=np.int64)
_DOD_PBITS = np.array([7, 9, 12], dtype=np.int64)


def encode_ts_dod(ts_units: np.ndarray) -> bytes:
    """Timestamps in any integer unit (seconds or microseconds)."""
    t = np.asarray(ts_units, dtype=np.int64)
    head_vals = [np.uint64(64), np.uint64(int(t[0]) & ((1 << 64) - 1))]
    head_widths = [8, 64]
    if t.size >= 2:
        d0 = t[1] - t[0]
        head_vals.append(_zigzag64(np.array([d0]))[0])
        head_widths.append(64)
    vals = np.array(head_vals, dtype=np.uint64)
    widths = np.array(head_widths, dtype=np.int64)
    if t.size > 2:
        dod = np.diff(np.diff(t))
        n = dod.size
        # per point: header field + optional payload field (the 4+64-bit
        # escape exceeds one uint64, so fields are split like the XOR
        # encoder; zero-width payloads vanish in _pack_fields)
        hdr_v = np.zeros(n, dtype=np.uint64)
        hdr_w = np.ones(n, dtype=np.int64)  # default: '0' (dod == 0)
        pay_v = np.zeros(n, dtype=np.uint64)
        pay_w = np.zeros(n, dtype=np.int64)
        nz = dod != 0
        # bucket index: 0..2 for the bounded buckets, 3 = escape
        b = np.full(n, 3, dtype=np.int64)
        for bi in range(2, -1, -1):
            inb = (dod >= _DOD_LO[bi]) & (dod <= _DOD_HI[bi]) & nz
            b[inb] = bi
        for bi in range(3):
            m = (b == bi) & nz
            if m.any():
                hdr_v[m] = _DOD_CTRL[bi]
                hdr_w[m] = _DOD_CBITS[bi]
                pay_v[m] = (dod[m] - _DOD_LO[bi]).astype(np.uint64)
                pay_w[m] = _DOD_PBITS[bi]
        m = (b == 3) & nz
        if m.any():
            hdr_v[m], hdr_w[m] = 0b1111, 4
            pay_v[m] = _zigzag64(dod[m])
            pay_w[m] = 64
        fv = np.empty(2 * n, dtype=np.uint64)
        fw = np.empty(2 * n, dtype=np.int64)
        fv[0::2], fw[0::2] = hdr_v, hdr_w
        fv[1::2], fw[1::2] = pay_v, pay_w
        vals = np.concatenate([vals, fv])
        widths = np.concatenate([widths, fw])
    return _pack_fields(vals, widths)


def _read_fields(bits: np.ndarray, offs: np.ndarray, width: int) -> np.ndarray:
    """Gather `width`-bit big-endian fields at bit offsets `offs` from an
    unpacked 0/1 uint8 bit array — one (len(offs), width) gather, no loop.
    Bit lanes never overlap within a field, so OR-reduce assembles them."""
    if offs.size == 0:
        return np.zeros(0, dtype=np.uint64)
    lanes = bits[offs[:, None] + np.arange(width, dtype=np.int64)[None, :]]
    shifts = np.arange(width - 1, -1, -1, dtype=np.uint64)
    return np.bitwise_or.reduce(
        lanes.astype(np.uint64) << shifts[None, :], axis=1
    )


def _unzigzag64(u: np.ndarray) -> np.ndarray:
    u = u.astype(np.uint64)
    return (
        (u >> np.uint64(1)) ^ (-(u & np.uint64(1))).astype(np.uint64)
    ).astype(np.int64)


def _orbit(nxt: np.ndarray, p0: int, m: int) -> np.ndarray:
    """Positions of m chained records: pos[i+1] = nxt[pos[i]], recovered
    with pointer doubling — log2(m) vectorized gathers, no per-record
    Python. `nxt` must be a total function (clipped at the array end)."""
    pos = np.empty(m, dtype=np.int64)
    pos[0] = p0
    filled = 1
    jump = nxt  # the `filled`-step jump map, squared as `filled` doubles
    while filled < m:
        take = min(filled, m - filled)
        pos[filled : filled + take] = jump[pos[:take]]
        filled += take
        if filled < m:
            jump = jump[jump]
    return pos


def decode_ts_dod(data: bytes, n: int) -> np.ndarray:
    """Vectorized DoD decode. Record lengths are position-local (the
    1-4 bit control prefix determines them), so record starts follow
    from pointer doubling; payloads are then fixed-width gathers per
    control class and the timestamp chain is two cumsums."""
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8)).astype(np.uint8)
    t0 = int(_read_fields(bits, np.array([8], dtype=np.int64), 64)[0])
    if t0 >= 1 << 63:
        t0 -= 1 << 64
    out = np.empty(n, dtype=np.int64)
    out[0] = t0
    if n == 1:
        return out
    d0 = int(
        _unzigzag64(_read_fields(bits, np.array([72], dtype=np.int64), 64))[0]
    )
    out[1] = t0 + d0
    if n == 2:
        return out
    m = n - 2
    # pad so len_at/nxt are total functions near the stream tail
    b = np.concatenate([bits, np.zeros(80, dtype=np.uint8)])
    L = bits.size
    p = np.arange(L + 1, dtype=np.int64)
    ln = np.where(
        b[p] == 0,
        1,
        np.where(
            b[p + 1] == 0,
            2 + 7,
            np.where(b[p + 2] == 0, 3 + 9, np.where(b[p + 3] == 0, 4 + 12, 4 + 64)),
        ),
    )
    nxt = np.minimum(p + ln, L)
    starts = _orbit(nxt, 136, m)  # 8 + 64 + 64 header bits
    c1, c2, c3, c4 = (b[starts + k] for k in range(4))
    # bucket 0='0', 1..3 bounded, 4=escape
    bucket = np.where(
        c1 == 0, 0, np.where(c2 == 0, 1, np.where(c3 == 0, 2, np.where(c4 == 0, 3, 4)))
    )
    dod = np.zeros(m, dtype=np.int64)
    for bi, (cbits, pbits) in enumerate(zip(_DOD_CBITS, _DOD_PBITS)):
        idx = np.flatnonzero(bucket == bi + 1)
        if idx.size:
            pay = _read_fields(b, starts[idx] + int(cbits), int(pbits))
            dod[idx] = pay.astype(np.int64) + _DOD_LO[bi]
    esc = np.flatnonzero(bucket == 4)
    if esc.size:
        dod[esc] = _unzigzag64(_read_fields(b, starts[esc] + 4, 64))
    deltas = d0 + np.cumsum(dod)
    out[2:] = out[1] + np.cumsum(deltas)
    return out


# ---------------------------------------------------------------------------
# C2: Gorilla XOR value encode
# ---------------------------------------------------------------------------


def _bitlen64(x: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for uint64 arrays (0 → 0)."""
    bl = np.zeros(x.shape, dtype=np.int64)
    y = x.astype(np.uint64).copy()
    for s in (32, 16, 8, 4, 2, 1):
        m = y >= (np.uint64(1) << np.uint64(s))
        bl[m] += s
        y[m] >>= np.uint64(s)
    return bl + (y > 0).astype(np.int64)


VAL_VERSION = 2


def encode_val_xor(values: np.ndarray, nulls: np.ndarray | None = None) -> bytes:
    """Columnar Gorilla-XOR encode (v2 spec in the module docstring).

    `nulls` marks positions encoded as code 11 (no payload, value chain
    unaffected); their content in `values` is ignored. Fully vectorized:
    lz/tz via shift cascades, run boundaries via np.diff, all three
    streams packed with _pack_fields/np.packbits."""
    v = np.ascontiguousarray(np.asarray(values, dtype=np.float64))
    n = v.size
    code = np.full(n, 3, dtype=np.uint8)
    nn = (
        np.ones(n, dtype=bool)
        if nulls is None
        else ~np.asarray(nulls, dtype=bool)
    )
    vb = v.view(np.uint64)[nn]
    prev = np.concatenate(([np.uint64(0)], vb[:-1])) if vb.size else vb
    x = vb ^ prev
    nz = x != 0
    xnz = x[nz]
    lead = np.minimum(64 - _bitlen64(xnz), 31)
    tz = _bitlen64(xnz & (~xnz + np.uint64(1))) - 1
    meaning = 64 - lead - tz
    # run-bounded reuse: a new window exactly when (lead, tz) changes
    # between consecutive non-zero xors (or at the first one)
    new_win = np.ones(xnz.size, dtype=bool)
    if xnz.size > 1:
        new_win[1:] = (np.diff(lead) != 0) | (np.diff(tz) != 0)
    cnn = np.zeros(vb.size, dtype=np.uint8)  # 00 repeat
    cnn[np.flatnonzero(nz)] = np.where(new_win, 2, 1)
    code[nn] = cnn
    # stream 1: controls, 2 bits/point, MSB-first, byte-padded
    ctrl_bits = np.empty(2 * n, dtype=np.uint8)
    ctrl_bits[0::2] = code >> 1
    ctrl_bits[1::2] = code & 1
    ctrl = np.packbits(ctrl_bits).tobytes()
    # stream 2: 11-bit window fields for each '10' code
    wl = lead[new_win].astype(np.uint64)
    wm = meaning[new_win].astype(np.uint64)
    windows = _pack_fields(
        (wl << np.uint64(6)) | (wm - np.uint64(1)),
        np.full(wl.size, 11, dtype=np.int64),
    )
    # stream 3: payloads (xor >> tz, meaning wide) for codes 01 and 10;
    # within a run (lead, tz) are constant, so reuse payloads share the
    # opener's width exactly
    payload = _pack_fields(xnz >> tz.astype(np.uint64), meaning)
    return bytes([VAL_VERSION]) + ctrl + windows + payload


def decode_val_xor(data: bytes, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_val_xor → (float64 values, null mask).

    Values at null positions are NaN placeholders; the mask is the
    truth. Fully vectorized: fixed-width gathers per stream, payload
    widths grouped by unique meaning (≤64 groups), value chain via
    np.bitwise_xor.accumulate."""
    buf = np.frombuffer(data, dtype=np.uint8)
    if n == 0:
        return np.zeros(0, dtype=np.float64), np.zeros(0, dtype=bool)
    if buf[0] != VAL_VERSION:  # not assert: must survive python -O
        raise ValueError(
            f"bad val codec version {buf[0]} (expected {VAL_VERSION}); "
            "pre-v2 blobs are not decodable by this build"
        )
    ctrl_nbytes = (2 * n + 7) // 8
    if buf.size < 1 + ctrl_nbytes:
        raise ValueError(
            f"truncated val blob: control stream needs {1 + ctrl_nbytes} "
            f"bytes for n={n}, blob has {buf.size}"
        )
    cbits = np.unpackbits(buf[1 : 1 + ctrl_nbytes])[: 2 * n]
    code = (cbits[0::2] << 1) | cbits[1::2]
    null = code == 3
    nn = ~null
    cc = code[nn]
    n_win = int(np.count_nonzero(cc == 2))
    win_nbytes = (11 * n_win + 7) // 8
    if buf.size < 1 + ctrl_nbytes + win_nbytes:
        raise ValueError(
            f"truncated val blob: window stream needs {win_nbytes} bytes "
            f"for {n_win} windows, blob has {buf.size - 1 - ctrl_nbytes} after controls"
        )
    # structural invariant of the format: a reuse code '01' can only
    # follow some '10' window opener — decoding one with no window
    # would index the window arrays at -1 (IndexError on an empty
    # stream, or a silently WRONG width via Python negative indexing)
    first_pay = np.flatnonzero(cc != 0)
    if first_pay.size and cc[first_pay[0]] == 1:
        raise ValueError(
            "corrupt val blob: reuse code '01' appears before any "
            "'10' window opener"
        )
    wbits = np.unpackbits(buf[1 + ctrl_nbytes : 1 + ctrl_nbytes + win_nbytes])
    woffs = np.arange(n_win, dtype=np.int64) * 11
    lead_w = _read_fields(wbits, woffs, 5).astype(np.int64)
    mean_w = _read_fields(wbits, woffs + 5, 6).astype(np.int64) + 1
    pbits = np.unpackbits(buf[1 + ctrl_nbytes + win_nbytes :])
    # governing window per non-null point; width 0 for '00' repeats
    widx = np.cumsum(cc == 2) - 1
    has_pay = cc != 0
    width = (
        np.where(has_pay, mean_w[np.maximum(widx, 0)], 0)
        if n_win
        else np.zeros(cc.size, dtype=np.int64)
    )
    offs = np.concatenate(([0], np.cumsum(width)[:-1]))
    need_pay_bits = int(width.sum())
    if need_pay_bits > pbits.size:
        raise ValueError(
            f"truncated val blob: payload stream needs {need_pay_bits} "
            f"bits, blob carries {pbits.size}"
        )
    xor = np.zeros(cc.size, dtype=np.uint64)
    pay_idx = np.flatnonzero(has_pay)
    if pay_idx.size:
        w_of_pay = width[pay_idx]
        shift = (
            64 - lead_w[widx[pay_idx]] - mean_w[widx[pay_idx]]
        ).astype(np.uint64)
        vals = np.zeros(pay_idx.size, dtype=np.uint64)
        for w in np.unique(w_of_pay):
            grp = np.flatnonzero(w_of_pay == w)
            vals[grp] = _read_fields(pbits, offs[pay_idx[grp]], int(w))
        xor[pay_idx] = vals << shift
    vbits = np.bitwise_xor.accumulate(xor)
    out = np.full(n, np.nan, dtype=np.float64)
    out[nn] = vbits.view(np.float64)
    return out, null


# ---------------------------------------------------------------------------
# C4: Spark segment framing
# ---------------------------------------------------------------------------

SEGMENT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("series_id", StringType()),
        StructField("seg_start", TimestampType()),
        StructField("n", IntegerType()),
        StructField("ts_blob", BinaryType()),
        StructField("val_blob", BinaryType()),
        StructField("raw_bytes", LongType()),
        StructField("enc_bytes", LongType()),
    ]
)


def _spans(lists: pa.ListArray) -> Iterator[tuple[int, int]]:
    """(start, stop) of each list cell in the shared child `lists.values`."""
    off = lists.offsets.to_numpy()
    return zip(off[:-1], off[1:])


@F.arrow_udf(BinaryType())
def _enc_ts_udf(ts_lists: pa.Array) -> pa.Array:
    ts = ts_lists.values.to_numpy()
    return pa.array([encode_ts_dod(ts[a:b]) for a, b in _spans(ts_lists)], pa.binary())


@F.arrow_udf(BinaryType())
def _enc_val_udf(val_lists: pa.Array) -> pa.Array:
    # the child's validity bitmap is the null mask (code 11); NaN data
    # is a valid double and keeps its bit pattern
    child = val_lists.values
    v = child.to_numpy(zero_copy_only=False)
    null = child.is_null().to_numpy(zero_copy_only=False)
    return pa.array(
        [encode_val_xor(v[a:b], null[a:b]) for a, b in _spans(val_lists)],
        pa.binary(),
    )


def encode_segments(raw: DataFrame, segment: str = "1h") -> DataFrame:
    """raw (source, series_id, event_ts, value) → one blob row per
    (source, series_id, segment window).

    Shape: the grouping + time-sort happens JVM-side
    (collect_list → sort_array inside a hash aggregate, one shuffle on
    the segment key), and the Python stage is two scalar Arrow UDFs
    over whole batches of segments — thousands of segments per Arrow
    round-trip, each kernel fed a numpy slice of the list's child
    array. The earlier applyInPandas formulation paid ~3 ms of
    per-group overhead, 10× the actual encoding cost on small
    segments. Segment length bounds both the aggregation buffer and
    the UDF row size. seg_start keeps the input's timestamp type."""
    seg = F.date_trunc(C.TIER_TRUNC[segment], F.col("event_ts"))
    if isinstance(raw.schema["event_ts"].dataType, TimestampNTZType):
        # wall-clock micros, session-timezone-independent; date_trunc
        # returns LTZ, so seg_start goes back to NTZ for decode_segments
        ts_us = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', event_ts)"
        )
        seg = seg.cast(TimestampNTZType())
    else:
        ts_us = F.unix_micros("event_ts")
    framed = raw.select(
        "source", "series_id", seg.alias("seg_start"), ts_us.alias("_ts_us"), "value",
    )
    agg = framed.groupBy("source", "series_id", "seg_start").agg(
        F.sort_array(F.collect_list(F.struct("_ts_us", "value"))).alias("_pts")
    )
    ts_arr = F.transform("_pts", lambda s: s["_ts_us"])
    val_arr = F.transform("_pts", lambda s: s["value"])
    n = F.size("_pts")
    return agg.select(
        "source",
        "series_id",
        "seg_start",
        n.alias("n"),
        _enc_ts_udf(ts_arr).alias("ts_blob"),
        _enc_val_udf(val_arr).alias("val_blob"),
        (n * 16).cast("long").alias("raw_bytes"),
    ).withColumn(
        "enc_bytes",
        (F.octet_length("ts_blob") + F.octet_length("val_blob")).cast("long"),
    )


_DECODE_CHUNK_ROWS = 250_000


def _decode_batches(ts_type: pa.DataType):
    def chunk(batch, lo, hi, ts, vals, nulls) -> pa.RecordBatch:
        n = batch.column("n").to_numpy()[lo:hi]
        seg = pa.array(np.repeat(np.arange(lo, hi), n))
        return pa.RecordBatch.from_arrays(
            [
                batch.column("source").take(seg),
                batch.column("series_id").take(seg),
                pa.array(np.concatenate(ts), ts_type),
                # the mask becomes the validity bitmap: SQL nulls stay
                # nulls, NaN data stays a valid NaN
                pa.array(np.concatenate(vals), mask=np.concatenate(nulls)),
            ],
            names=["source", "series_id", "event_ts", "value"],
        )

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            ns = batch.column("n").to_numpy().tolist()
            ts_blobs = batch.column("ts_blob").to_pylist()
            val_blobs = batch.column("val_blob").to_pylist()
            lo, rows, ts, vals, nulls = 0, 0, [], [], []
            for i, n in enumerate(ns):
                ts.append(decode_ts_dod(ts_blobs[i], n))
                v, null = decode_val_xor(val_blobs[i], n)
                vals.append(v)
                nulls.append(null)
                rows += n
                # yield in bounded chunks: an Arrow input batch of 10k
                # segments × hundreds of points each would otherwise
                # become one multi-million-row batch PER WORKER — at 32
                # concurrent workers that peak evicts the page cache
                # and the stage anti-scales (measured: decode @32
                # slower than @8 in wall terms at 100M points; bounded
                # chunks remove the spike without touching the
                # per-point numpy math)
                if rows >= _DECODE_CHUNK_ROWS or i == len(ns) - 1:
                    yield chunk(batch, lo, i + 1, ts, vals, nulls)
                    lo, rows, ts, vals, nulls = i + 1, 0, [], [], []

    return fn


def decode_segments(blobs: DataFrame) -> DataFrame:
    """Inverse of encode_segments — blob rows back to raw points, one
    mapInArrow stage.

    Output event_ts type mirrors the input (seg_start carries it):
    NTZ in → NTZ out, so the round trip is wall-clock-exact regardless
    of session timezone; LTZ out is UTC instants, which Spark reads
    the same under any session timezone."""
    ts = blobs.schema["seg_start"].dataType.simpleString()
    schema = f"source string, series_id string, event_ts {ts}, value double"
    ts_type = pa.timestamp("us", tz=None if ts == "timestamp_ntz" else "UTC")
    return blobs.mapInArrow(_decode_batches(ts_type), schema=schema)


# ---------------------------------------------------------------------------
# C5 — token-array bit-packing (the tokens-payload codec).
#
# The C1-C4 codecs compress the (event_ts, value) series; the CORPUS
# side of this engine stores array<int32> token sequences whose ids
# live in [0, V) with V = 2^17 — 32-bit ints waste 15 bits per token.
# Fixed-width bit-packing stores exactly ceil(17·n/8) bytes (+4-byte
# length header): a 47% cut on the dominant column at 10^12-sequence
# scale, with O(n) vectorized numpy pack/unpack (bit-matrix reshape +
# packbits — no per-token Python) and an exact round trip, i.e. the
# north-rule token-array-equality invariant holds THROUGH the codec.
# ---------------------------------------------------------------------------

TOKEN_BITS = 17  # ceil(log2(config.V))


def encode_tokens_fixed(tokens: np.ndarray, width: int = TOKEN_BITS) -> bytes:
    """Pack uint token ids into `width`-bit fields (little-endian bit
    order within the stream). Header: uint32 token count."""
    t = np.asarray(tokens, dtype=np.uint32)
    if t.size and int(t.max()) >= (1 << width):
        raise ValueError(
            f"token id {int(t.max())} does not fit in {width} bits"
        )
    # (n, width) bit matrix, LSB first, then packbits into the stream
    bits = (t[:, None] >> np.arange(width, dtype=np.uint32)) & 1
    payload = np.packbits(bits.astype(np.uint8), bitorder="little").tobytes()
    # header dtype pinned little-endian: this is an on-disk format, so
    # a blob written on a LE cluster must decode identically on a BE
    # reader (packbits bitorder= is already endian-independent).
    return np.uint32(t.size).astype("<u4").tobytes() + payload


def decode_tokens_fixed(data: bytes, width: int = TOKEN_BITS) -> np.ndarray:
    """Inverse of encode_tokens_fixed → int32 array."""
    n = int(np.frombuffer(data[:4], dtype="<u4")[0])
    if n == 0:
        return np.zeros(0, dtype=np.int32)
    raw = np.frombuffer(data[4:], dtype=np.uint8)
    bits = np.unpackbits(raw, bitorder="little")[: n * width]
    mat = bits.reshape(n, width).astype(np.uint32)
    vals = (mat << np.arange(width, dtype=np.uint32)).sum(
        axis=1, dtype=np.uint32
    )
    return vals.astype(np.int32)


@F.arrow_udf(BinaryType())
def _enc_tokens_udf(tok_lists: pa.Array) -> pa.Array:
    tok = tok_lists.values.to_numpy()
    return pa.array(
        [encode_tokens_fixed(tok[a:b]) for a, b in _spans(tok_lists)], pa.binary()
    )


def _arrow_parts(df: DataFrame) -> int:
    """Partition target for row-local Arrow stages: ~2 tasks per core
    (scale-adaptive via defaultParallelism, never hard-coded). Each
    JVM↔Python task pays a fixed worker/stream setup cost, so a
    high-partition-count input (e.g. the 256-slice synthesizer union)
    spends more on per-task boundary setup than on data: measured
    2.3 s → 0.84 s for an identity Arrow pass over the token corpus
    at 256 → 64 partitions (guide §4: few, large batches).
    coalesce() never increases a smaller partition count."""
    return 2 * df.sparkSession.sparkContext.defaultParallelism


def encode_token_blobs(seq: DataFrame) -> DataFrame:
    """sequences → (doc_id, source, n_tok, tok_blob, raw_bytes,
    enc_bytes): one scalar Arrow stage, no shuffle (row-local;
    coalesced to ~2 tasks/core — see _arrow_parts)."""
    seq = seq.coalesce(_arrow_parts(seq))
    return seq.select(
        "doc_id",
        "source",
        "n_tok",
        _enc_tokens_udf("tokens").alias("tok_blob"),
        (F.col("n_tok").cast("long") * 4).alias("raw_bytes"),
    ).withColumn("enc_bytes", F.octet_length("tok_blob").cast("long"))


def _decode_token_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in it:
        toks = [decode_tokens_fixed(b) for b in batch.column("tok_blob").to_pylist()]
        offsets = np.cumsum([0] + [t.size for t in toks], dtype=np.int32)
        ids = np.concatenate([np.empty(0, np.int32), *toks])
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("doc_id"),
                batch.column("source"),
                pa.ListArray.from_arrays(pa.array(offsets), pa.array(ids)),
            ],
            names=["doc_id", "source", "tokens"],
        )


def decode_token_blobs(blobs: DataFrame) -> DataFrame:
    """Inverse of encode_token_blobs → (doc_id, source, tokens), one
    mapInArrow stage: the decoded id arrays of a batch become one
    ListArray."""
    return blobs.coalesce(_arrow_parts(blobs)).mapInArrow(
        _decode_token_batches,
        schema="doc_id string, source string, tokens array<int>",
    )

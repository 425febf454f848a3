"""Codec round-trip + cross-implementation parity + Spark integration.

Two independent implementations exist on purpose: tokens_ts/codec.py
(vectorized, production) and tests/oracle.py (per-bit BitWriter,
normative spec). They must produce identical bytes for every input.
"""

import math

import numpy as np
import pytest

from tests import oracle
from tokens_ts import codec

# adversarial arrays (FIXTURES.md §3)
TS_CASES = {
    "regular": np.arange(0, 3600, 60, dtype=np.int64) + 1767225600,
    "single": np.array([1767225600], dtype=np.int64),
    "two": np.array([1767225600, 1767225660], dtype=np.int64),
    "irregular": 1767225600 + np.cumsum(np.array([0, 1, 63, 64, 65, 255, 256, 257, 2047, 2048, 2049, 100000, 1 << 30], dtype=np.int64)),
    "negative_dod": 1767225600 + np.cumsum(np.array([0, 1000, 1, 1000, 1, 937, 64, 2111], dtype=np.int64)),
    "epoch_zero": np.array([0, 60, 120, 7200], dtype=np.int64),
    "pre_epoch": np.array([-86400, -86340, -86280], dtype=np.int64),
}

rng_vals = (np.arange(500, dtype=np.float64) * 40503.0) % 131072.0
VAL_CASES = {
    "constant": np.full(100, 3.14159),
    "single": np.array([42.0]),
    "monotone": np.arange(256, dtype=np.float64),
    "walk": np.cumsum(((np.arange(300) * 104729) % 7 - 3).astype(np.float64)),
    "recurrence": rng_vals,
    "with_nan": np.where((np.arange(64) % 7) == 0, np.nan, np.arange(64, dtype=np.float64)),
    "tiny_and_huge": np.array([1e-308, 1e308, -1e-308, -1e308, 0.0, -0.0, 1.0]),
    "zeros": np.zeros(10),
}


@pytest.mark.parametrize("name", list(TS_CASES))
def test_ts_roundtrip_and_parity(name):
    t = TS_CASES[name]
    enc = codec.encode_ts_dod(t)
    assert enc == oracle.encode_ts_dod(t), name  # byte parity w/ normative spec
    dec = codec.decode_ts_dod(enc, t.size)
    assert np.array_equal(dec, t), name
    dec2 = oracle.decode_ts_dod(enc, t.size)
    assert np.array_equal(dec2, t), name


@pytest.mark.parametrize("name", list(VAL_CASES))
def test_val_roundtrip_and_parity(name):
    v = VAL_CASES[name]
    enc = codec.encode_val_xor(v)
    assert enc == oracle.encode_val_xor(v), name
    dec, null = codec.decode_val_xor(enc, v.size)
    assert not null.any()
    assert np.array_equal(
        dec.view(np.uint64), np.ascontiguousarray(v).view(np.uint64)
    ), name  # bit-exact incl. nan patterns and -0.0
    dec2, null2 = oracle.decode_val_xor(enc, v.size)
    assert not null2.any()
    assert np.array_equal(dec2.view(np.uint64), np.ascontiguousarray(v).view(np.uint64)), name


NULL_CASES = {
    # (values, null mask) — nulls must round-trip as nulls (control 11),
    # NaN values as NaN bit patterns, and the two must never conflate
    "sparse_nulls": (
        np.arange(40, dtype=np.float64) * 1.5,
        (np.arange(40) % 5) == 0,
    ),
    "null_then_nan": (
        np.array([0.0, 1.5, np.nan, 2.5, 0.0, np.nan]),
        np.array([True, False, False, False, True, False]),
    ),
    "all_null": (np.zeros(7), np.ones(7, dtype=bool)),
    "leading_nulls": (
        np.array([9.9, 9.9, 3.0, 3.0, 4.0]),
        np.array([True, True, False, False, False]),
    ),
    "first_value_zero": (
        np.array([0.0, 0.0, 1.0]),
        np.array([False, False, False]),
    ),
}


@pytest.mark.parametrize("name", list(NULL_CASES))
def test_val_null_roundtrip_and_parity(name):
    v, mask = NULL_CASES[name]
    enc = codec.encode_val_xor(v, mask)
    assert enc == oracle.encode_val_xor(v, mask), name
    for impl in (codec, oracle):
        dec, null = impl.decode_val_xor(enc, v.size)
        assert np.array_equal(null, mask), name
        keep = ~mask
        assert np.array_equal(
            dec[keep].view(np.uint64),
            np.ascontiguousarray(v[keep]).view(np.uint64),
        ), name


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(10**15), max_value=10**15), min_size=1, max_size=200
    )
)
def test_ts_parity_fuzz(deltas):
    t = 1767225600_000_000 + np.cumsum(np.array(deltas, dtype=np.int64))
    enc = codec.encode_ts_dod(t)
    assert enc == oracle.encode_ts_dod(t)
    assert np.array_equal(codec.decode_ts_dod(enc, t.size), t)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(allow_nan=True, allow_infinity=True, width=64),
            st.booleans(),
        ),
        min_size=1,
        max_size=200,
    )
)
def test_val_parity_fuzz(pairs):
    v = np.array([p[0] for p in pairs], dtype=np.float64)
    mask = np.array([p[1] for p in pairs], dtype=bool)
    enc = codec.encode_val_xor(v, mask)
    assert enc == oracle.encode_val_xor(v, mask)
    dec, null = codec.decode_val_xor(enc, v.size)
    assert np.array_equal(null, mask)
    keep = ~mask
    assert np.array_equal(
        dec[keep].view(np.uint64), np.ascontiguousarray(v[keep]).view(np.uint64)
    )


def test_compression_ratio_regular_series():
    """Regular grid + smooth values must compress hard (the point of DoD)."""
    t = np.arange(0, 86400, 60, dtype=np.int64) + 1767225600
    enc = codec.encode_ts_dod(t)
    assert len(enc) < t.size  # ≪ 8 bytes/point: ~1 bit/point after warmup
    v = np.full(t.size, 123.5)
    assert len(codec.encode_val_xor(v)) < t.size / 4 + 16


def test_spark_segment_roundtrip_with_nulls(spark, seq_tiny):
    """Null values (e.g. point extraction past n_tok) survive the codec
    as nulls — not NaN — through the full Spark encode/decode path."""
    from tokens_ts import extract

    raw = extract.to_raw(extract.point(seq_tiny, 7))  # keeps nulls
    n_null = raw.where("value is null").count()
    assert n_null > 0, "fixture must produce null points for this test"
    back = codec.decode_segments(codec.encode_segments(raw, "1h"))
    a = {(r["source"], r["series_id"], r["event_ts"]): r["value"] for r in raw.collect()}
    b = {(r["source"], r["series_id"], r["event_ts"]): r["value"] for r in back.collect()}
    assert a.keys() == b.keys()
    for k, va in a.items():
        vb = b[k]
        if va is None:
            assert vb is None, k
        elif isinstance(va, float) and math.isnan(va):
            assert vb is not None and math.isnan(vb), k
        else:
            assert va == vb, k


def test_spark_segment_roundtrip(spark, seq_tiny):
    """Full Spark path: raw → hourly blob segments → decode → identical."""
    from tokens_ts import extract

    raw = extract.to_raw(extract.point(seq_tiny, 7)).where("value is not null")
    segs = codec.encode_segments(raw, "1h")
    back = codec.decode_segments(segs)
    a = {(r["source"], r["series_id"], r["event_ts"]): r["value"] for r in raw.collect()}
    b = {(r["source"], r["series_id"], r["event_ts"]): r["value"] for r in back.collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == b[k] or (math.isnan(a[k]) and math.isnan(b[k]))
    # framing: one row per (source, series, hour)
    import pyspark.sql.functions as F

    dup = segs.groupBy("source", "series_id", "seg_start").count().where("count > 1").count()
    assert dup == 0
    ratio = segs.agg((F.sum("enc_bytes") / F.sum("raw_bytes")).alias("r")).collect()[0]["r"]
    assert ratio < 1.0


# ---------------------------------------------------------------------------
# Edge shapes through the Spark path, under a non-UTC session
# ---------------------------------------------------------------------------

_RAW_DDL = "source string, series_id string, event_ts {}, value double"


def _as_text(df):
    """Rows rendered in the session zone; NaN and null stay distinct."""
    import pyspark.sql.functions as F

    rows = df.select(
        "source",
        "series_id",
        F.col("event_ts").cast("string"),
        F.col("value").cast("string"),
    ).collect()
    return sorted(map(tuple, rows), key=str)


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_spark_segment_roundtrip_non_utc_session(kolkata, ts_type):
    """Under Asia/Kolkata, LTZ and NTZ input round-trip exactly and
    keep their type. One segment holds a finite value, a NaN and a
    null: NaN returns NaN and null returns null. A pre-epoch point and
    a non-zero microsecond exercise the DoD header and escapes."""
    from datetime import datetime

    rows = [
        ("s", "a", datetime(2026, 3, 1, 10, 31), 1.5),
        ("s", "a", datetime(2026, 3, 1, 10, 40, 0, 7), float("nan")),
        ("s", "a", datetime(2026, 3, 1, 10, 50), None),
        ("s", "a", datetime(2026, 3, 1, 11, 45), -2.0),
        ("s", "b", datetime(1969, 12, 31, 23, 59, 59, 999999), 0.0),
    ]
    raw = kolkata.createDataFrame(rows, _RAW_DDL.format(ts_type))
    segs = codec.encode_segments(raw, "1h")
    assert sorted(r["n"] for r in segs.collect()) == [1, 1, 3]
    back = codec.decode_segments(segs)
    assert back.schema["event_ts"].dataType == raw.schema["event_ts"].dataType
    assert _as_text(back) == _as_text(raw)
    got = {r[2]: r[3] for r in _as_text(back)}
    assert [got[k] for k in sorted(got)[1:4]] == ["1.5", "NaN", None]


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_spark_segment_codec_empty_input(kolkata, ts_type):
    """Empty input encodes to 0 segments and decodes to 0 rows, with
    the declared column names and the input's types."""
    raw = kolkata.createDataFrame([], _RAW_DDL.format(ts_type))
    segs = codec.encode_segments(raw, "1h")
    assert segs.columns == codec.SEGMENT_SCHEMA.names
    assert segs.count() == 0
    back = codec.decode_segments(segs)
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in raw.schema
    ]
    assert back.count() == 0


def test_token_blobs_empty_array_and_extreme_ids(spark):
    """decode_token_blobs over an empty token array and the id range's
    ends, 0 and 2^17 − 1."""
    seq = spark.createDataFrame(
        [("d0", "s", 0, []), ("d1", "s", 3, [0, 131071, 0]), ("d2", "s", 1, [131071])],
        "doc_id string, source string, n_tok int, tokens array<int>",
    )
    blobs = codec.encode_token_blobs(seq)
    assert {r["doc_id"]: r["enc_bytes"] for r in blobs.collect()} == {
        "d0": 4, "d1": 4 + 7, "d2": 4 + 3,
    }
    back = sorted(map(tuple, codec.decode_token_blobs(blobs).collect()))
    assert back == [("d0", "s", []), ("d1", "s", [0, 131071, 0]), ("d2", "s", [131071])]


# ---------------------------------------------------------------------------
# Corrupt / truncated blobs must raise versioned decode errors, not
# surface raw numpy IndexErrors or silently-wrong values.
# ---------------------------------------------------------------------------

def _flip_ctrl_code(enc: bytes, n: int, point: int, new_code: int) -> bytes:
    """Rewrite point `point`'s 2-bit control code in the ctrl stream."""
    buf = bytearray(enc)
    bit0 = 2 * point  # MSB-first within the byte stream
    for k, bit in enumerate((new_code >> 1, new_code & 1)):
        idx = bit0 + k
        byte, off = 1 + idx // 8, 7 - idx % 8
        buf[byte] = (buf[byte] & ~(1 << off)) | (bit << off)
    return bytes(buf)


def test_val_decode_rejects_truncated_ctrl():
    enc = codec.encode_val_xor(np.arange(100, dtype=np.float64))
    with pytest.raises(ValueError, match="control stream"):
        codec.decode_val_xor(enc[:5], 100)


def test_val_decode_rejects_truncated_windows_and_payload():
    v = np.cumsum(((np.arange(300) * 104729) % 7 - 3).astype(np.float64))
    enc = codec.encode_val_xor(v)
    ctrl_nbytes = (2 * v.size + 7) // 8
    with pytest.raises(ValueError, match="window stream"):
        codec.decode_val_xor(enc[: 1 + ctrl_nbytes], v.size)
    with pytest.raises(ValueError, match="payload stream"):
        codec.decode_val_xor(enc[: len(enc) - 40], v.size)


def test_val_decode_rejects_reuse_before_window():
    """Flip the first '10' opener to a '01' reuse: a decoder without the
    structural check would index the window arrays at -1."""
    v = np.arange(16, dtype=np.float64)
    enc = codec.encode_val_xor(v)
    # point 0 encodes value 0.0 = repeat ('00'); point 1 is the opener
    bad = _flip_ctrl_code(enc, v.size, 1, 0b01)
    with pytest.raises(ValueError, match="reuse code '01'"):
        codec.decode_val_xor(bad, v.size)


def test_val_decode_rejects_bad_version():
    enc = codec.encode_val_xor(np.arange(8, dtype=np.float64))
    with pytest.raises(ValueError, match="bad val codec version"):
        codec.decode_val_xor(bytes([99]) + enc[1:], 8)


def test_compression_ratio_pins(spark):
    """Numerical efficiency contract of the codecs — the reason the
    north rule mandates them at 10^12 points. Regular grids compress
    to ~1 bit/timestamp (DoD control '0' runs); repeated values to
    ~0.25 bits (XOR '00' repeats); random-walk doubles stay well under
    raw 8 B. Bounds are deliberately loose (2× headroom) so they pin
    the complexity class, not the exact byte count."""
    import numpy as np

    from tokens_ts import codec

    n = 100_000
    # perfectly regular 60 s grid: after header, one '0' bit per step
    ts = np.arange(n, dtype=np.int64) * 60
    b = codec.encode_ts_dod(ts)
    assert len(b) * 8 / n < 2.0, len(b)
    assert np.array_equal(codec.decode_ts_dod(b, n), ts)

    # constant series: exactly one 2-bit '00' repeat code per value
    const = np.full(n, 42.5)
    bc = codec.encode_val_xor(const)
    assert len(bc) * 8 / n < 2.5, len(bc)

    # quantized (integer-valued) walk — the metrics shape Gorilla is
    # built for: zero mantissa tails make XOR windows narrow
    isteps = ((np.arange(n, dtype=np.int64) * 2654435761) % 11) - 5
    qwalk = (1000 + np.cumsum(isteps)).astype(np.float64)
    bq = codec.encode_val_xor(qwalk)
    assert len(bq) * 8 / n < 32.0, len(bq) * 8 / n
    dq, _ = codec.decode_val_xor(bq, n)
    assert np.array_equal(dq, qwalk)

    # full-mantissa continuous walk — the codec's worst realistic
    # case: every bit of the mantissa churns, XOR still beats raw
    steps = (((np.arange(n, dtype=np.int64) * 2654435761) % 1000) - 500) / 1e3
    walk = 1000.0 + np.cumsum(steps)
    bw = codec.encode_val_xor(walk)
    bits = len(bw) * 8 / n
    assert bits < 64.0, bits
    dec, nulls = codec.decode_val_xor(bw, n)
    assert not nulls.any()
    assert np.array_equal(dec, walk)


def test_token_bitpack_roundtrip_and_size(spark, seq_tiny):
    """C5: the token-array codec round-trips EXACTLY (the token-array-
    equality invariant through the codec) at exactly ceil(17n/8)+4
    bytes per sequence — a 47% cut vs 4-byte ints."""
    import numpy as np
    import pyspark.sql.functions as F

    from tokens_ts import codec

    # numpy-level: adversarial ids incl. 0 (PAD) and V-1
    for arr in ([0], [131071], [], [0, 131071, 1, 65536, 42] * 100):
        a = np.asarray(arr, dtype=np.uint32)
        b = codec.encode_tokens_fixed(a)
        assert len(b) == 4 + -(-17 * len(arr) // 8), arr
        assert np.array_equal(codec.decode_tokens_fixed(b), a.astype(np.int32))
    try:
        codec.encode_tokens_fixed(np.array([1 << 17], dtype=np.uint32))
        raise AssertionError("must reject out-of-width ids")
    except ValueError:
        pass

    # Spark-level round trip over the fixture: element-wise equality
    blobs = codec.encode_token_blobs(seq_tiny)
    r = blobs.agg(
        F.sum("raw_bytes").alias("raw"), F.sum("enc_bytes").alias("enc")
    ).collect()[0]
    assert r["enc"] < 0.56 * r["raw"]  # ~17/32 + header overhead
    back = {r["doc_id"]: r["tokens"] for r in codec.decode_token_blobs(blobs).collect()}
    orig = {r["doc_id"]: r["tokens"] for r in seq_tiny.collect()}
    assert back == orig


def test_token_header_is_little_endian_on_disk():
    """The 4-byte count header is pinned '<u4': byte layout must be
    stable regardless of host endianness (storage-format contract)."""
    import struct

    blob = codec.encode_tokens_fixed(np.array([5, 6, 7], dtype=np.uint32))
    assert struct.unpack("<I", blob[:4])[0] == 3
    # and a hand-built LE blob decodes on this host
    rebuilt = struct.pack("<I", 3) + blob[4:]
    assert codec.decode_tokens_fixed(rebuilt).tolist() == [5, 6, 7]

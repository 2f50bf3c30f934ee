"""Differential pins for the vectorized (numpy) blob decoder.

The vector path must agree VALUE-FOR-VALUE with the closure decoder
(the semantics root, reference io.py parity) on every eligible flat
schema, including the edges vectorization gets wrong first: multi-byte
and boundary varints, zigzag signs, empty strings, non-ASCII UTF-8,
NaN/±inf doubles, None cells, null-union branch orders, and empty
batches. Ineligible schemas and anomalous bytes must *decline*
(VectorFallback / None), never mis-decode.
"""

from __future__ import annotations

import json
import math

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from redshift_avro_spark.avroio.binary import BinaryReader, compile_decoder, encode_datum
from redshift_avro_spark.avroio.convert import avro_to_spark_type
from redshift_avro_spark.avroio.schema_model import parse_schema
from redshift_avro_spark.avroio.vectorized import (
    VectorFallback,
    get_vector_decoder,
)

MIXED = {
    "type": "record",
    "name": "E",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {"name": "user_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
        {"name": "props", "type": ["null", "string"], "default": None},
    ],
}


def _encode_rows(schema_dict, rows):
    s = parse_schema(json.dumps(schema_dict))
    return [None if r is None else encode_datum(s, r) for r in rows]


def _closure_decode(schema_dict, blobs):
    s = parse_schema(json.dumps(schema_dict))
    fn = compile_decoder(s, mode="python")
    out = []
    for b in blobs:
        out.append(None if b is None else fn(BinaryReader(b)))
    return out

def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _assert_matches(schema_dict, rows):
    blobs = _encode_rows(schema_dict, rows)
    vd = get_vector_decoder(json.dumps(schema_dict))
    assert vd is not None, "schema should be vector-eligible"
    cols = vd.decode_blobs_arrow(blobs)
    want = _closure_decode(schema_dict, blobs)
    names = [f["name"] for f in schema_dict["fields"]]
    assert sorted(cols) == sorted(names)
    for name in names:
        got = cols[name].to_pylist()
        for i, w in enumerate(want):
            expect = None if w is None else w[name]
            g = got[i]
            if isinstance(expect, float) or isinstance(g, float):
                assert _norm(g) == _norm(expect) or g == pytest.approx(expect), (
                    name, i, g, expect)
            else:
                assert g == expect, (name, i, g, expect)


def test_mixed_schema_matches_closures():
    import datetime as dt

    rows = [
        {"event_id": 0, "ts": 0, "user_id": 0, "event_type": "", "value": 0.0, "props": None},
        {"event_id": 1, "ts": 1_700_000_000_000_000, "user_id": -1,
         "event_type": "click", "value": -1.5, "props": "{\"k\": 1}"},
        None,  # null cell
        {"event_id": 2**62, "ts": 1, "user_id": -(2**62), "event_type": "héllo ✓ 日本語",
         "value": float("nan"), "props": ""},
        {"event_id": -1, "ts": 2, "user_id": 63, "event_type": "x" * 300,
         "value": float("inf"), "props": None},
    ]
    blobs = _encode_rows(MIXED, rows)
    vd = get_vector_decoder(json.dumps(MIXED))
    cols = vd.decode_blobs_arrow(blobs)
    # spot-check rich values (ts arrives as Arrow timestamp)
    assert cols["event_id"].to_pylist() == [0, 1, None, 2**62, -1]
    assert cols["event_type"].to_pylist() == ["", "click", None, "héllo ✓ 日本語", "x" * 300]
    assert cols["props"].to_pylist() == [None, '{"k": 1}', None, "", None]
    v = cols["value"].to_pylist()
    assert v[0] == 0.0 and v[1] == -1.5 and math.isnan(v[3]) and v[4] == math.inf
    assert cols["ts"].to_pylist()[1] == dt.datetime(2023, 11, 14, 22, 13, 20)


def _stream_decode_matches(schema_dict, rows):
    """Concatenated-datum (container block) decode must equal the
    per-blob decode row for row."""
    blobs = _encode_rows(schema_dict, rows)
    vd = get_vector_decoder(json.dumps(schema_dict))
    assert vd is not None
    stream = b"".join(blobs)
    cols = vd.decode_stream_arrow(stream, len(blobs))
    want = _closure_decode(schema_dict, blobs)
    for f in schema_dict["fields"]:
        name = f["name"]
        got = cols[name].to_pylist()
        for i, w in enumerate(want):
            expect = w[name]
            g = got[i]
            if name == "ts" and g is not None and hasattr(g, "timestamp"):
                continue  # arrow timestamps spot-checked elsewhere
            if isinstance(expect, float) or isinstance(g, float):
                assert _norm(g) == _norm(expect) or g == pytest.approx(expect), (
                    name, i, g, expect)
            else:
                assert g == expect, (name, i, g, expect)


def test_stream_decode_matches_per_datum():
    rows = [
        {"event_id": i * 7 - 3, "ts": i * 1_000_003, "user_id": -i,
         "event_type": ("t" * (i % 17)) + ("é" if i % 5 == 0 else ""),
         "value": i * 0.25 - 2.0,
         "props": None if i % 3 else '{"k": %d}' % i}
        for i in range(500)
    ]
    _stream_decode_matches(MIXED, rows)


def test_stream_decode_varint_boundaries():
    # values spanning 1..10 varint bytes exercise the skip tables
    vals = [0, -1, 63, -64, 64, 2**20, -(2**20), 2**41, -(2**41), 2**62, -(2**63)]
    rows = [
        {"event_id": v, "ts": abs(v) % (2**50), "user_id": -v if v > -(2**62) else 0,
         "event_type": "x" * (abs(v) % 200), "value": float(v % 1000), "props": None}
        for v in vals
    ]
    _stream_decode_matches(MIXED, rows)


def test_stream_decode_rejects_garbage():
    vd = get_vector_decoder(json.dumps(MIXED))
    blobs = _encode_rows(MIXED, [
        {"event_id": 1, "ts": 1, "user_id": 1, "event_type": "a", "value": 1.0,
         "props": None}
    ])
    good = b"".join(blobs)
    # wrong count, truncated buffer, corrupted bytes → VectorFallback,
    # never silent garbage
    with pytest.raises(VectorFallback):
        vd.decode_stream_arrow(good, 2)
    with pytest.raises(VectorFallback):
        vd.decode_stream_arrow(good[:-2], 1)
    with pytest.raises(VectorFallback):
        vd.decode_stream_arrow(good + b"\x01", 1)


def test_append_pandas_layout_matches_per_datum_path():
    """ContainerWriter.append_arrow (vector block write) must produce
    the same records AND the same block boundaries as append_encoded,
    also when the batch arrives over several calls (sliced batches, so
    string columns start at a non-zero Arrow offset)."""
    import io

    from redshift_avro_spark.avroio.container import (
        ContainerReader,
        ContainerWriter,
        iter_raw_blocks,
        read_header,
    )

    n = 5000
    rows = [
        {"event_id": i, "ts": i * 1_000_000, "user_id": i % 31,
         "event_type": f"t{i % 5}", "value": i / 8.0,
         "props": None if i % 2 else "p" * (i % 40)}
        for i in range(n)
    ]
    schema_json = json.dumps(MIXED)
    sync = b"S" * 16
    a = io.BytesIO()
    with ContainerWriter(a, schema_json, sync_marker=sync) as w:
        for r in rows:
            w.append(r)
    batch = _rows_to_batch(MIXED, rows)
    for cuts in ([], [1234, 1235, 3000]):
        b = io.BytesIO()
        with ContainerWriter(b, schema_json, sync_marker=sync) as w:
            for lo, hi in zip([0] + cuts, cuts + [n]):
                w.append_arrow(batch.slice(lo, hi - lo))
        assert a.getvalue() == b.getvalue()  # byte-identical incl. blocks
    ha = read_header(a.getvalue())
    assert len(list(iter_raw_blocks(a.getvalue(), ha.header_len, ha.sync))) > 1
    back = list(ContainerReader(b.getvalue()))
    assert len(back) == n and back[0]["event_id"] == 0 and back[-1]["props"] == rows[-1]["props"]


def test_all_primitive_kinds_match():
    schema = {
        "type": "record",
        "name": "K",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "by", "type": "bytes"},
            {"name": "ni", "type": ["null", "int"]},
            {"name": "nd", "type": ["double", "null"]},  # reversed order
            {"name": "nby", "type": ["null", "bytes"]},
        ],
    }
    rng = np.random.default_rng(11)
    rows = []
    for i in range(500):
        rows.append(
            {
                "b": bool(i % 3 == 0),
                "i": int(rng.integers(-(2**31), 2**31)),
                "l": int(rng.integers(-(2**62), 2**62)),
                "f": float(np.float32(rng.normal())),
                "d": float(rng.normal()) * 10**int(rng.integers(-5, 5)),
                "s": "".join(chr(int(c)) for c in rng.integers(32, 0x2FFF, i % 7)),
                "by": bytes(rng.integers(0, 256, i % 11, dtype=np.uint8)),
                "ni": None if i % 4 == 0 else int(rng.integers(-100, 100)),
                "nd": None if i % 5 == 0 else float(rng.normal()),
                "nby": None if i % 2 == 0 else bytes([i % 256]),
            }
        )
    _assert_matches(schema, rows)


def test_varint_boundaries():
    schema = {"type": "record", "name": "V", "fields": [{"name": "l", "type": "long"}]}
    vals = [0, -1, 1, 63, 64, -64, -65, 2**31 - 1, -(2**31), 2**63 - 1, -(2**63)]
    _assert_matches(schema, [{"l": v} for v in vals])


def test_empty_batch_and_all_none():
    vd = get_vector_decoder(json.dumps(MIXED))
    cols = vd.decode_blobs_arrow([])
    assert all(len(a) == 0 for a in cols.values())
    cols = vd.decode_blobs_arrow([None, None])
    assert all(a.null_count == 2 for a in cols.values())


def test_ineligible_schemas_decline():
    nested = {"type": "record", "name": "N", "fields": [
        {"name": "r", "type": {"type": "record", "name": "I",
                               "fields": [{"name": "x", "type": "int"}]}}]}
    arrayed = {"type": "record", "name": "A", "fields": [
        {"name": "xs", "type": {"type": "array", "items": "int"}}]}
    decimal = {"type": "record", "name": "D", "fields": [
        {"name": "d", "type": {"type": "bytes", "logicalType": "decimal",
                               "precision": 9, "scale": 2}}]}
    wide_union = {"type": "record", "name": "U", "fields": [
        {"name": "u", "type": ["null", "int", "string"]}]}
    for s in (nested, arrayed, decimal, wide_union):
        assert get_vector_decoder(json.dumps(s)) is None


def test_nullable_timestamp_roundtrips_all_paths():
    """Round 4 widened eligibility: nullable timestamps decode through
    blob/stream/pandas paths matching the closure decoder, and NULL rows
    ENCODE as the null branch byte-identically to the closure encoder
    (previously both sides declined the schema)."""
    import datetime as dt

    from redshift_avro_spark.avroio.vectorized import get_vector_encoder

    schema = {"type": "record", "name": "T", "fields": [
        {"name": "id", "type": "long"},
        {"name": "ts", "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}],
         "default": None}]}
    sj = json.dumps(schema)
    t1 = dt.datetime(2020, 9, 13, 12, 26, 40)
    rows = [{"id": 1, "ts": t1}, {"id": 2, "ts": None},
            {"id": 3, "ts": dt.datetime(1970, 1, 1)}]
    blobs = _encode_rows(schema, rows)
    vd = get_vector_decoder(sj)
    assert vd is not None
    want = [t1, None, dt.datetime(1970, 1, 1)]
    assert vd.decode_blobs_arrow(blobs)["ts"].to_pylist() == want
    assert vd.decode_stream_arrow(b"".join(blobs), 3)["ts"].to_pylist() == want
    assert list(vd.decode_blobs_to_pandas(blobs)["ts"]) == want
    ve = get_vector_encoder(sj)
    assert _vector_encode(ve, _rows_to_batch(schema, rows)) == blobs


def test_malformed_input_falls_back_not_garbage():
    vd = get_vector_decoder(json.dumps(MIXED))
    good = _encode_rows(MIXED, [
        {"event_id": 1, "ts": 1, "user_id": 1, "event_type": "a", "value": 1.0, "props": None}
    ])[0]
    with pytest.raises(VectorFallback):
        vd.decode_blobs_arrow([good[:3]])  # truncated mid-record
    with pytest.raises(VectorFallback):
        vd.decode_blobs_arrow([b"\xff" * 20])  # runaway varint
    # invalid utf-8 inside a declared string
    bad = bytearray(good)
    # event_type 'a' is length-prefixed: find it and corrupt the byte
    i = bytes(good).index(b"\x02a")
    bad[i + 1] = 0xFF
    with pytest.raises(VectorFallback):
        vd.decode_blobs_arrow([bytes(bad)])


def test_bulk_string_gather_reconstructs_exact_bytes():
    schema = {"type": "record", "name": "S", "fields": [
        {"name": "id", "type": "long"}, {"name": "s", "type": "string"}]}
    rows = [{"id": i, "s": ("αβγ" * (i % 50))[: i % 97]} for i in range(1000)]
    _assert_matches(schema, rows)


# ---------------------------------------------------------------- encoder


def _closure_encode(schema_dict, rows):
    return _encode_rows(schema_dict, rows)


def _rows_to_batch(schema_dict, rows):
    """Rows as the Arrow batch Spark hands an encode site: Spark's Arrow
    types for the schema (int32 ints, float32 floats, UTC timestamps)."""
    spark_type = avro_to_spark_type(parse_schema(json.dumps(schema_dict)))
    return pa.RecordBatch.from_pylist(rows, schema=to_arrow_schema(spark_type))


def _vector_encode(ve, batch):
    offs, buf = ve.encode_buffer(batch)
    return [buf[offs[i]:offs[i + 1]].tobytes() for i in range(len(offs) - 1)]


def _assert_encodes_identical(schema_dict, rows):
    from redshift_avro_spark.avroio.vectorized import get_vector_encoder

    ve = get_vector_encoder(json.dumps(schema_dict))
    assert ve is not None, "schema should be vector-eligible"
    got = _vector_encode(ve, _rows_to_batch(schema_dict, rows))
    want = _closure_encode(schema_dict, rows)
    assert len(got) == len(want)
    bad = [i for i, (g, w) in enumerate(zip(got, want)) if g != w]
    assert not bad, (bad[:3], got[bad[0]], want[bad[0]])


def test_encoder_mixed_schema_byte_identical():
    rows = [
        {"event_id": 0, "ts": 0, "user_id": 0, "event_type": "", "value": 0.0, "props": None},
        {"event_id": 1, "ts": 1_700_000_000_000_000, "user_id": -1,
         "event_type": "click", "value": -1.5, "props": '{"k": 1}'},
        {"event_id": 2**62, "ts": 1, "user_id": -(2**62),
         "event_type": "héllo ✓ 日本語", "value": float("nan"), "props": ""},
        {"event_id": -1, "ts": 2, "user_id": 63, "event_type": "x" * 300,
         "value": float("inf"), "props": None},
    ]
    # ts arrives as a timestamp[us, UTC] column (the Spark-delivered
    # shape); encode_datum takes the same raw micros ints
    _assert_encodes_identical(MIXED, rows)


def test_encoder_all_kinds_byte_identical():
    schema = {
        "type": "record",
        "name": "K",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "by", "type": "bytes"},
            {"name": "ni", "type": ["null", "int"]},
            {"name": "ns", "type": ["string", "null"]},
        ],
    }
    rng = np.random.default_rng(5)
    rows = []
    for i in range(400):
        rows.append(
            {
                "b": bool(i % 2),
                "i": int(rng.integers(-(2**31), 2**31)),
                "l": int(rng.integers(-(2**62), 2**62)),
                "f": float(np.float32(rng.normal())),
                "d": float(rng.normal()),
                "s": "".join(chr(int(c)) for c in rng.integers(32, 0x2FFF, i % 9)),
                "by": bytes(rng.integers(0, 256, i % 5, dtype=np.uint8)),
                "ni": None if i % 3 == 0 else int(rng.integers(-(10**9), 10**9)),
                "ns": None if i % 4 == 0 else "αβ" * (i % 3),
            }
        )
    # Spark's Arrow types: int32 "i", float32 "f", nulls in the
    # validity bitmaps of "ni" and "ns"
    _assert_encodes_identical(schema, rows)


def test_encoder_varint_boundaries_byte_identical():
    schema = {"type": "record", "name": "V", "fields": [{"name": "l", "type": "long"}]}
    vals = [0, -1, 1, 63, 64, -64, -65, 2**31 - 1, -(2**31), 2**63 - 1, -(2**63)]
    _assert_encodes_identical(schema, [{"l": v} for v in vals])


def test_encoder_roundtrips_through_vector_decoder():
    from redshift_avro_spark.avroio.vectorized import get_vector_decoder, get_vector_encoder

    ve = get_vector_encoder(json.dumps(MIXED))
    vd = get_vector_decoder(json.dumps(MIXED))
    rows = [
        {"event_id": i, "ts": i * 1000, "user_id": -i, "event_type": f"t{i%5}",
         "value": i / 7.0, "props": None if i % 2 else f"p{i}"}
        for i in range(2000)
    ]
    blobs = _vector_encode(ve, _rows_to_batch(MIXED, rows))
    cols = vd.decode_blobs_arrow(blobs)
    assert cols["event_id"].to_pylist() == [r["event_id"] for r in rows]
    assert cols["props"].to_pylist() == [r["props"] for r in rows]
    assert cols["value"].to_pylist() == [r["value"] for r in rows]


# ---------------------------------------------------------------- fuzz

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_KINDS = ["boolean", "int", "long", "float", "double", "string", "bytes"]


def _schema_for(kinds_nullable):
    fields = []
    for i, (kind, nullable) in enumerate(kinds_nullable):
        t = kind if not nullable else (["null", kind] if i % 2 else [kind, "null"])
        fields.append({"name": f"f{i}", "type": t})
    return {"type": "record", "name": "Z", "fields": fields}


_VALUES = {
    "boolean": st.booleans(),
    "int": st.integers(-(2**31), 2**31 - 1),
    "long": st.integers(-(2**63), 2**63 - 1),
    "float": st.floats(width=32, allow_nan=False),
    "double": st.floats(allow_nan=False),
    "string": st.text(max_size=40),
    "bytes": st.binary(max_size=40),
}


@st.composite
def _case(draw):
    kinds = draw(
        st.lists(
            st.tuples(st.sampled_from(_KINDS), st.booleans()), min_size=1, max_size=6
        )
    )
    n = draw(st.integers(0, 25))
    rows = []
    for _ in range(n):
        row = {}
        for i, (kind, nullable) in enumerate(kinds):
            if nullable and draw(st.booleans()):
                row[f"f{i}"] = None
            else:
                row[f"f{i}"] = draw(_VALUES[kind])
        rows.append(row)
    return kinds, rows


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_case())
def test_fuzz_vector_codec_differential(case):
    """Random eligible schemas × random values (+ nulls): the vector
    DECODER must value-match the closure decoder on closure-encoded
    bytes, and the vector ENCODER must be byte-identical to the
    closure encoder — both directions, any shape."""
    from redshift_avro_spark.avroio.vectorized import (
        get_vector_decoder,
        get_vector_encoder,
    )

    kinds, rows = case
    schema = _schema_for(kinds)
    sj = json.dumps(schema)
    blobs = _encode_rows(schema, rows)

    vd = get_vector_decoder(sj)
    assert vd is not None
    cols = vd.decode_blobs_arrow(blobs)
    want = _closure_decode(schema, blobs)
    for i, (kind, _nullable) in enumerate(kinds):
        name = f"f{i}"
        got = cols[name].to_pylist()
        for j, w in enumerate(want):
            expect = w[name]
            g = got[j]
            if kind == "float" and expect is not None:
                assert g == pytest.approx(expect, rel=1e-6), (name, j)
            else:
                assert g == expect, (name, j, g, expect)

    ve = get_vector_encoder(sj)
    assert ve is not None
    # float32 columns: Arrow float32 holds the drawn float32 values exactly
    assert _vector_encode(ve, _rows_to_batch(schema, rows)) == blobs


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_case())
def test_fuzz_stream_decode_differential(case):
    """Random eligible schemas × random values through the CONTIGUOUS
    stream path (container-block shape): the composed-skip-table
    segmentation + frontier decode must value-match the closure decoder
    on the concatenation of closure-encoded datums — any shape, any
    varint widths, any null pattern."""
    from redshift_avro_spark.avroio.vectorized import get_vector_decoder

    kinds, rows = case
    schema = _schema_for(kinds)
    blobs = _encode_rows(schema, rows)
    stream = b"".join(blobs)
    vd = get_vector_decoder(json.dumps(schema))
    assert vd is not None
    cols = vd.decode_stream_arrow(stream, len(rows))
    want = _closure_decode(schema, blobs)
    for i, (kind, _nullable) in enumerate(kinds):
        name = f"f{i}"
        got = cols[name].to_pylist()
        for j, w in enumerate(want):
            expect = w[name]
            g = got[j]
            if kind == "float" and expect is not None:
                assert g == pytest.approx(expect, rel=1e-6), (name, j)
            else:
                assert g == expect, (name, j, g, expect)


def test_enum_and_fixed_decode_all_paths():
    """Round 4: enum and fixed are DECODE-eligible (enum index → symbol
    take; fixed → width-sliced binary), incl. nullable variants, on
    both the blob and contiguous-stream paths; the ENCODER still
    declines them (closure/codegen own the write side)."""
    from redshift_avro_spark.avroio.vectorized import get_vector_encoder

    schema = {"type": "record", "name": "R", "fields": [
        {"name": "id", "type": "long"},
        {"name": "color", "type": {"type": "enum", "name": "C",
                                   "symbols": ["RED", "GREEN", "BLUE"]}},
        {"name": "tag", "type": ["null", {"type": "enum", "name": "C2",
                                          "symbols": ["A", "B"]}], "default": None},
        {"name": "mac", "type": {"type": "fixed", "name": "F", "size": 4}},
        {"name": "opt", "type": ["null", {"type": "fixed", "name": "F2", "size": 2}],
         "default": None}]}
    sj = json.dumps(schema)
    rows = [
        {"id": 1, "color": "RED", "tag": "A", "mac": b"\x01\x02\x03\x04", "opt": b"\xff\x00"},
        {"id": 2, "color": "BLUE", "tag": None, "mac": b"\x00" * 4, "opt": None},
        {"id": 3, "color": "GREEN", "tag": "B", "mac": b"abcd", "opt": b"zz"},
    ]
    blobs = _encode_rows(schema, rows)
    vd = get_vector_decoder(sj)
    assert vd is not None
    assert get_vector_encoder(sj) is None  # decode-only
    want = _closure_decode(schema, blobs)
    for cols in (vd.decode_blobs_arrow(blobs), vd.decode_stream_arrow(b"".join(blobs), 3)):
        for name in ("id", "color", "tag", "mac", "opt"):
            assert cols[name].to_pylist() == [w[name] for w in want], name
    pdf = vd.decode_blobs_to_pandas(blobs)
    assert list(pdf["color"]) == ["RED", "BLUE", "GREEN"]
    assert list(pdf["opt"]) == [b"\xff\x00", None, b"zz"]
    # out-of-range enum index must fall back, not mis-decode
    bad = bytearray(blobs[0])
    # field layout: id varint (1 byte) then enum index varint — force 7
    bad[1] = 14  # zigzag(7)
    with pytest.raises(VectorFallback):
        vd.decode_blobs_arrow([bytes(bad)])

"""Differential tests: generated batch codecs (avroio/codegen.py) vs the
spark-mode closure codecs (avroio/binary.py). The generated code must
be a pure execution-strategy change — byte-identical encode,
value-identical decode, same error classes — across the full §1.2 type
surface."""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.pandas.types import to_arrow_schema

from redshift_avro_spark.avroio import parse_schema, write_container
from redshift_avro_spark.avroio.binary import (
    AvroDecodeError,
    BinaryReader,
    BinaryWriter,
    compile_decoder,
    compile_encoder,
    encode_datum,
)
from redshift_avro_spark.avroio.codegen import get_batch_decoder, get_batch_encoder
from redshift_avro_spark.avroio.convert import avro_to_spark_type, nullable_struct

_EPOCH = dt.datetime(1970, 1, 1)


def arrow_schema(schema):
    """Spark's Arrow types for a decoded record schema."""
    return to_arrow_schema(nullable_struct(avro_to_spark_type(schema)))


def stream_rows(bd, data: bytes, count: int) -> tuple[list, int]:
    """``decode_stream`` → (dict rows, end position). Top-level timestamp
    columns hold raw epoch ints; they become naive-UTC datetimes, as the
    spark-mode closures give them."""
    outs = bd.new_columns()
    end = bd.decode_stream(data, 0, count, outs)
    for i, unit in enumerate(bd.ts_units):
        if unit:
            kw = "microseconds" if unit == "us" else "milliseconds"
            outs[i] = [None if v is None else _EPOCH + dt.timedelta(**{kw: v}) for v in outs[i]]
    return [dict(zip(bd.names, vals)) for vals in zip(*outs)], end

KITCHEN = {
    "type": "record",
    "name": "Kitchen",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "flag", "type": "boolean"},
        {"name": "score", "type": "double"},
        {"name": "ratio", "type": "float"},
        {"name": "raw", "type": "bytes"},
        {"name": "opt", "type": ["null", "string"], "default": None},
        {"name": "u", "type": ["long", "string", "null"]},
        {"name": "color", "type": {"type": "enum", "name": "C", "symbols": ["R", "G", "B"]}},
        {"name": "mac", "type": {"type": "fixed", "name": "M", "size": 3}},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
        {
            "name": "nested",
            "type": {
                "type": "record",
                "name": "N",
                "fields": [
                    {"name": "a", "type": "int"},
                    {"name": "b", "type": ["null", "double"]},
                ],
            },
        },
        {
            "name": "price",
            "type": {"type": "bytes", "logicalType": "decimal", "precision": 10, "scale": 2},
        },
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {"name": "tsm", "type": {"type": "long", "logicalType": "timestamp-millis"}},
        {"name": "uid", "type": {"type": "string", "logicalType": "uuid"}},
    ],
}


def _kitchen_rows(n: int) -> list[dict]:
    return [
        {
            "id": i,
            "name": f"user{i}" * 3,
            "flag": i % 2 == 0,
            "score": i * 1.5,
            "ratio": 0.5,
            "raw": bytes([i % 256, 1, 2]),
            "opt": None if i % 3 == 0 else f"o{i}",
            "u": i if i % 3 == 0 else (f"s{i}" if i % 3 == 1 else None),
            "color": "RGB"[i % 3],
            "mac": bytes([i % 256] * 3),
            "tags": [f"t{j}" for j in range(i % 4)],
            "attrs": {f"k{j}": j for j in range(i % 3)},
            "nested": {"a": i, "b": None if i % 2 else i * 0.25},
            "price": Decimal(i) + Decimal("0.25"),
            "d": dt.date(2020, 1, 1) + dt.timedelta(days=i),
            "ts": dt.datetime(2021, 5, 1, 12, 0, 0, 123456) + dt.timedelta(seconds=i),
            "tsm": dt.datetime(2021, 5, 1, 12, 0, 0, 123000) + dt.timedelta(seconds=i),
            "uid": f"00000000-0000-0000-0000-{i:012d}",
        }
        for i in range(n)
    ]


@pytest.fixture(scope="module")
def kitchen():
    sch = parse_schema(KITCHEN)
    sj = json.dumps(sch.to_json())
    rows = _kitchen_rows(100)
    blobs = [encode_datum(sch, r) for r in rows]
    return sch, sj, rows, blobs


class TestDecodeParity:
    def test_blobs_match_closure(self, kitchen):
        sch, sj, rows, blobs = kitchen
        dec = compile_decoder(sch, mode="spark")
        closure_rows = [dec(BinaryReader(b)) for b in blobs]
        bd = get_batch_decoder(sj, "spark")
        assert bd is not None
        outs = bd.new_columns()
        bd.decode_blobs(blobs, outs, False)
        # ts columns come out raw; column_array views them as Arrow timestamps
        types = arrow_schema(sch)
        for i, name in enumerate(bd.names):
            typ = types.field(name).type
            got = bd.column_array(i, outs[i], typ)
            assert got.type == typ, name
            assert got.to_pylist() == pa.array([r[name] for r in closure_rows], typ).to_pylist(), name

    def test_stream_rows_match_closure(self, kitchen):
        sch, sj, rows, blobs = kitchen
        dec = compile_decoder(sch, mode="spark")
        closure_rows = [dec(BinaryReader(b)) for b in blobs]
        bd = get_batch_decoder(sj, "spark")
        payload = b"".join(blobs)
        got, pos = stream_rows(bd, payload, len(blobs))
        assert pos == len(payload)
        assert got == closure_rows

    def test_only_spark_mode_is_generated(self, kitchen):
        sch, sj, rows, blobs = kitchen
        with pytest.raises(ValueError):
            get_batch_decoder(sj, "python")

    def test_permissive_nulls_and_failfast_raises(self, kitchen):
        sch, sj, rows, blobs = kitchen
        bd = get_batch_decoder(sj, "spark")
        bad = blobs[:2] + [b"\x01", None] + blobs[2:4]
        outs = bd.new_columns()
        bd.decode_blobs(bad, outs, True)
        assert len(outs[0]) == 6
        assert outs[0][2] is None and outs[0][3] is None
        with pytest.raises(AvroDecodeError):
            bd.decode_blobs([b"\xff"], bd.new_columns(), False)


class TestEncodeParity:
    def test_bytes_identical_to_closure(self, kitchen):
        sch, sj, rows, blobs = kitchen
        be = get_batch_encoder(sj)
        assert be is not None
        cols = [[r[n] for r in rows] for n in be.names]
        assert be.encode_columns(cols, len(rows)) == blobs

    def test_member_struct_union_roundtrip(self, kitchen):
        """Spark-shaped member-struct union values (codegen falls back to
        the closure for general unions) still encode correctly."""
        sch, sj, rows, blobs = kitchen
        dec = compile_decoder(sch, mode="spark")
        spark_rows = [dec(BinaryReader(b)) for b in blobs]
        be = get_batch_encoder(sj)
        cols = [[r[n] for r in spark_rows] for n in be.names]
        re_enc = be.encode_columns(cols, len(spark_rows))
        assert [dec(BinaryReader(b)) for b in re_enc] == spark_rows

    def test_defaults_require_closure_path(self):
        """A schema field missing from the input columns is the closure
        path's job — get_batch_encoder itself still compiles."""
        sch = parse_schema(
            {
                "type": "record",
                "name": "D",
                "fields": [
                    {"name": "a", "type": "long"},
                    {"name": "b", "type": "string", "default": "x"},
                ],
            }
        )
        sj = json.dumps(sch.to_json())
        be = get_batch_encoder(sj)
        out = be.encode_columns([[1, 2], ["p", "q"]], 2)
        assert [compile_decoder(sch)(BinaryReader(b)) for b in out] == [
            {"a": 1, "b": "p"},
            {"a": 2, "b": "q"},
        ]

    @pytest.mark.parametrize("unit", ["timestamp-millis", "timestamp-micros"])
    @pytest.mark.parametrize("nullable", [True, False])
    def test_epoch_int_timestamp_matches_generated(self, unit, nullable):
        """A raw epoch int takes a timestamp field on the closure tier,
        inside a nullable union too, with the generated tier's bytes."""
        ts = {"type": "long", "logicalType": unit}
        sch = parse_schema(
            {
                "type": "record",
                "name": "T",
                "fields": [{"name": "ts", "type": ["null", ts] if nullable else ts}],
            }
        )
        values = [0, dt.datetime(2024, 1, 2, 3, 4, 5, 678000, tzinfo=dt.timezone.utc)]
        if nullable:
            values.append(None)
        closure = compile_encoder(sch)
        got = []
        for v in values:
            w = BinaryWriter()
            closure(w, {"ts": v})
            got.append(w.getvalue())
        generated = get_batch_encoder(json.dumps(sch.to_json()))
        assert got == generated.encode_columns([values], len(values))
        assert write_container([{"ts": 0}], sch)  # the container path takes it too


class TestTypedColumnSeries:
    def test_permissive_nulls_stay_null_and_clean_batches_type(self):
        """Column lists become Arrow arrays of Spark's types: a
        permissive null row is an Arrow null, never a fabricated value
        (nan/False), and a clean batch is typed and null-free."""
        sch = parse_schema(
            {
                "type": "record",
                "name": "R",
                "fields": [
                    {"name": "a", "type": "long"},
                    {"name": "f", "type": "double"},
                    {"name": "b", "type": "boolean"},
                ],
            }
        )
        sj = json.dumps(sch.to_json())
        bd = get_batch_decoder(sj, "spark")
        blobs = [
            encode_datum(sch, {"a": 1, "f": 2.5, "b": True}),
            b"\xff\xff",  # poison -> permissive null row
            encode_datum(sch, {"a": 3, "f": 0.5, "b": False}),
        ]
        types = arrow_schema(sch)
        outs = bd.new_columns()
        bd.decode_blobs(blobs, outs, True)
        for i, name in enumerate(("a", "f", "b")):
            arr = bd.column_array(i, outs[i], types.field(name).type)
            assert arr.null_count == 1 and not arr[1].is_valid, name
        outs2 = bd.new_columns()
        bd.decode_blobs([blobs[0], blobs[2]], outs2, False)
        arrs = [bd.column_array(i, c, types.field(n).type) for i, (n, c) in enumerate(zip(bd.names, outs2))]
        assert [str(a.type) for a in arrs] == ["int64", "double", "bool"]
        assert all(a.null_count == 0 for a in arrs)
        assert arrs[0].to_pylist() == [1, 3] and arrs[2].to_pylist() == [True, False]

    def test_timestamp_columns_are_utc_instants(self):
        """Raw epoch ints (micros and millis) view as Spark's
        timestamp[us, UTC], datetimes convert as they are, and a value
        outside datetime's range raises like the closure decoder does."""
        sch = parse_schema(
            {
                "type": "record",
                "name": "T",
                "fields": [
                    {"name": "us", "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}]},
                    {"name": "ms", "type": {"type": "long", "logicalType": "timestamp-millis"}},
                ],
            }
        )
        bd = get_batch_decoder(json.dumps(sch.to_json()), "spark")
        types = arrow_schema(sch)
        utc = dt.timezone.utc
        us = bd.column_array(0, [0, None, -1], types.field("us").type)
        assert us.type == pa.timestamp("us", tz="UTC")
        assert us.to_pylist() == [
            dt.datetime(1970, 1, 1, tzinfo=utc),
            None,
            dt.datetime(1969, 12, 31, 23, 59, 59, 999999, tzinfo=utc),
        ]
        ms = bd.column_array(1, [1500], types.field("ms").type)
        assert ms.to_pylist() == [dt.datetime(1970, 1, 1, 0, 0, 1, 500000, tzinfo=utc)]
        # a reader-default column holds naive-UTC datetimes, not raw ints
        dflt = bd.column_array(0, [dt.datetime(2020, 1, 1), None], types.field("us").type)
        assert dflt.to_pylist() == [dt.datetime(2020, 1, 1, tzinfo=utc), None]
        with pytest.raises(OverflowError):
            bd.column_array(0, [2**62], types.field("us").type)


class TestRecursiveFallback:
    LINKED = {
        "type": "record",
        "name": "Node",
        "fields": [
            {"name": "v", "type": "long"},
            {"name": "next", "type": ["null", "Node"], "default": None},
        ],
    }

    def test_recursive_schema_decodes_via_fallback(self):
        sch = parse_schema(self.LINKED)
        sj = json.dumps(sch.to_json())
        datum = {"v": 1, "next": {"v": 2, "next": {"v": 3, "next": None}}}
        blob = encode_datum(sch, datum)
        bd = get_batch_decoder(sj, "spark")
        if bd is None:  # emitter declined entirely — closure path covers it
            return
        got, end = stream_rows(bd, blob, 1)
        assert end == len(blob)
        assert got == [compile_decoder(sch, mode="spark")(BinaryReader(blob))]

    def test_recursive_schema_encodes_via_fallback(self):
        sch = parse_schema(self.LINKED)
        sj = json.dumps(sch.to_json())
        datum = {"v": 1, "next": {"v": 2, "next": None}}
        be = get_batch_encoder(sj)
        if be is None:
            return
        out = be.encode_columns([[1], [{"v": 2, "next": None}]], 1)
        assert out == [encode_datum(sch, datum)]


@st.composite
def _simple_rows(draw):
    n = draw(st.integers(min_value=1, max_value=20))
    return [
        {
            "a": draw(st.integers(min_value=-(2**63), max_value=2**63 - 1)),
            "s": draw(st.text(max_size=20)),
            "f": draw(
                st.floats(allow_nan=False, allow_infinity=True, width=64)
            ),
            "o": draw(st.one_of(st.none(), st.text(max_size=8))),
        }
        for _ in range(n)
    ]


FUZZ_SCHEMA = parse_schema(
    {
        "type": "record",
        "name": "F",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "f", "type": "double"},
            {"name": "o", "type": ["null", "string"]},
        ],
    }
)
FUZZ_JSON = json.dumps(FUZZ_SCHEMA.to_json())


@given(rows=_simple_rows())
@settings(max_examples=50, deadline=None)
def test_fuzz_roundtrip_parity(rows):
    enc = compile_encoder(FUZZ_SCHEMA)
    blobs = []
    for r in rows:
        w = BinaryWriter()
        enc(w, r)
        blobs.append(w.getvalue())
    be = get_batch_encoder(FUZZ_JSON)
    cols = [[r[n] for r in rows] for n in be.names]
    assert be.encode_columns(cols, len(rows)) == blobs
    bd = get_batch_decoder(FUZZ_JSON, "spark")
    outs = bd.new_columns()
    bd.decode_blobs(blobs, outs, False)
    dec = compile_decoder(FUZZ_SCHEMA, mode="spark")
    want = [dec(BinaryReader(b)) for b in blobs]
    got = [dict(zip(bd.names, vals)) for vals in zip(*outs)]
    assert got == want

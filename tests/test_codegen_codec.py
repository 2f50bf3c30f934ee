"""Differential tests: generated batch codecs (avroio/codegen.py) vs the
spark-mode closure codecs (avroio/binary.py). The generated code must
be a pure execution-strategy change — byte-identical encode,
value-identical decode, same error classes — across the full §1.2 type
surface."""

from __future__ import annotations

import datetime as dt
import json
import re
from decimal import Decimal

import numpy as np
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
    compile_resolver,
    encode_datum,
)
from redshift_avro_spark.avroio.codegen import get_batch_decoder, get_batch_encoder, get_batch_resolver
from redshift_avro_spark.avroio.convert import avro_to_spark_type, nullable_struct

_EPOCH = dt.datetime(1970, 1, 1)


def arrow_schema(schema):
    """Spark's Arrow types for a decoded record schema."""
    return to_arrow_schema(nullable_struct(avro_to_spark_type(schema)))


def arrow_rows(rows: list, types) -> list:
    """Closure-reference rows as Spark's Arrow values."""
    return pa.Table.from_pylist(rows, types).to_pylist()


def columns_rows(bd, outs, types) -> list:
    """A generated decoder's columns → rows of Spark's Arrow values."""
    fields = [types.field(n) for n in bd.names]
    arrays = [bd.column_array(i, outs, f.type) for i, f in enumerate(fields)]
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields)).to_pylist()


def stream_rows(bd, data: bytes, count: int, types) -> tuple[list, int]:
    """``decode_stream`` → (rows of Spark's Arrow values, end position)."""
    outs = bd.new_columns()
    end = bd.decode_stream(data, 0, count, outs)
    return columns_rows(bd, outs, types), end


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
            got = bd.column_array(i, outs, typ)
            assert got.type == typ, name
            assert got.to_pylist() == pa.array([r[name] for r in closure_rows], typ).to_pylist(), name

    def test_stream_rows_match_closure(self, kitchen):
        sch, sj, rows, blobs = kitchen
        dec = compile_decoder(sch, mode="spark")
        closure_rows = [dec(BinaryReader(b)) for b in blobs]
        bd = get_batch_decoder(sj, "spark")
        payload = b"".join(blobs)
        got, pos = stream_rows(bd, payload, len(blobs), arrow_schema(sch))
        assert pos == len(payload)
        assert got == arrow_rows(closure_rows, arrow_schema(sch))

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
        assert outs.n == 6 and outs.nulls == [2, 3]
        rows = columns_rows(bd, outs, arrow_schema(sch))
        assert all(v is None for r in rows[2:4] for v in r.values())
        dec = compile_decoder(sch, mode="spark")
        good = [dec(BinaryReader(b)) for b in blobs[:4]]
        assert rows[:2] + rows[4:] == arrow_rows(good, arrow_schema(sch))
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
            arr = bd.column_array(i, outs, types.field(name).type)
            assert arr.null_count == 1 and not arr[1].is_valid, name
        outs2 = bd.new_columns()
        bd.decode_blobs([blobs[0], blobs[2]], outs2, False)
        arrs = [bd.column_array(i, outs2, types.field(n).type) for i, n in enumerate(bd.names)]
        assert [str(a.type) for a in arrs] == ["int64", "double", "bool"]
        assert all(a.null_count == 0 for a in arrs)
        assert arrs[0].to_pylist() == [1, 3] and arrs[2].to_pylist() == [True, False]

    def test_timestamp_columns_are_utc_instants(self):
        """Raw epoch ints (micros and millis) view as Spark's
        timestamp[us, UTC], a reader default converts as it is, and a
        value outside datetime's range raises like the closure decoder
        does."""
        ts_us = {"type": "long", "logicalType": "timestamp-micros"}
        fields = [
            {"name": "us", "type": ["null", ts_us]},
            {"name": "ms", "type": {"type": "long", "logicalType": "timestamp-millis"}},
        ]
        sch = parse_schema({"type": "record", "name": "T", "fields": fields})
        raw = parse_schema(
            {"type": "record", "name": "T", "fields": [{"name": "us", "type": ["null", "long"]}, {"name": "ms", "type": "long"}]}
        )
        blobs = [encode_datum(raw, {"us": u, "ms": 1500}) for u in (0, None, -1)]
        bd = get_batch_decoder(json.dumps(sch.to_json()), "spark")
        types = arrow_schema(sch)
        outs = bd.new_columns()
        bd.decode_blobs(blobs, outs)
        utc = dt.timezone.utc
        us = bd.column_array(0, outs, types.field("us").type)
        assert us.type == pa.timestamp("us", tz="UTC")
        assert us.to_pylist() == [
            dt.datetime(1970, 1, 1, tzinfo=utc),
            None,
            dt.datetime(1969, 12, 31, 23, 59, 59, 999999, tzinfo=utc),
        ]
        ms = bd.column_array(1, outs, types.field("ms").type)
        assert ms.to_pylist() == [dt.datetime(1970, 1, 1, 0, 0, 1, 500000, tzinfo=utc)] * 3
        # a reader-only timestamp field is its default, one constant array
        reader = parse_schema(
            {"type": "record", "name": "T", "fields": fields + [{"name": "d", "type": ts_us, "default": 1577836800000000}]}
        )
        br = get_batch_resolver(json.dumps(sch.to_json()), json.dumps(reader.to_json()), "spark")
        outs = br.new_columns()
        br.decode_blobs(blobs[:2] + [None], outs)
        dflt = br.column_array(2, outs, arrow_schema(reader).field("d").type)
        assert dflt.to_pylist() == [dt.datetime(2020, 1, 1, tzinfo=utc)] * 2 + [None]
        outs = bd.new_columns()
        bd.decode_blobs([encode_datum(raw, {"us": 2**62, "ms": 0})], outs)
        with pytest.raises(OverflowError):
            bd.column_array(0, outs, types.field("us").type)


def _zz(n: int) -> bytes:
    """Zigzag varint of ``n``."""
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _s(text: str) -> bytes:
    b = text.encode("utf-8")
    return _zz(len(b)) + b


def _rec(name: str, fields: list) -> dict:
    return {"type": "record", "name": name, "fields": [{"name": n, "type": t} for n, t in fields]}


_ITEM = _rec("Item", [("sku", "string"), ("qty", "int")])
_LOGICAL = _rec(
    "Lg",
    [
        ("color", {"type": "enum", "name": "Col", "symbols": ["R", "G", "B"]}),
        ("mac", {"type": "fixed", "name": "Mac", "size": 2}),
        ("price", {"type": "bytes", "logicalType": "decimal", "precision": 9, "scale": 2}),
        ("cents", {"type": "fixed", "name": "Cents", "size": 4, "logicalType": "decimal", "precision": 8, "scale": 2}),
        ("day", {"type": "int", "logicalType": "date"}),
        ("at", {"type": "long", "logicalType": "timestamp-micros"}),
        ("at_ms", {"type": "long", "logicalType": "timestamp-millis"}),
        ("uid", {"type": "string", "logicalType": "uuid"}),
        ("tod", {"type": "int", "logicalType": "time-millis"}),
    ],
)


def _logical(i: int) -> dict:
    return {
        "color": "RGB"[i % 3],
        "mac": bytes([i % 256, 7]),
        "price": Decimal(i) / 4,
        "cents": Decimal(-i) / 4,
        "day": dt.date(2020, 2, 28) + dt.timedelta(days=i),
        "at": dt.datetime(2021, 1, 1, 0, 0, 0, 1) + dt.timedelta(seconds=i),
        "at_ms": dt.datetime(1969, 12, 31, 23, 59, 59, 999000) + dt.timedelta(seconds=i),
        "uid": f"00000000-0000-0000-0000-{i:012d}",
        "tod": i * 1000,
    }


# shape → (field schemas, one row's values for row i)
NESTED_SHAPES = {
    "record": ([("r", _rec("R", [("a", "long"), ("b", ["null", "string"])]))], lambda i: {"r": {"a": i, "b": None if i % 2 else f"b{i}"}}),
    "nullable_record": ([("r", ["null", _rec("R", [("a", "long"), ("ys", {"type": "array", "items": "int"})])])], lambda i: {"r": None if i % 3 == 0 else {"a": i, "ys": list(range(i % 3))}}),
    "array_of_records": ([("xs", {"type": "array", "items": _ITEM})], lambda i: {"xs": [{"sku": f"s{j}", "qty": j} for j in range(i % 4)]}),
    "array_of_arrays": ([("xss", {"type": "array", "items": {"type": "array", "items": "long"}})], lambda i: {"xss": [list(range(j)) for j in range(i % 4)]}),
    "map_of_records": ([("m", {"type": "map", "values": _ITEM})], lambda i: {"m": {f"k{j}": {"sku": f"s{j}", "qty": i} for j in range(i % 3)}}),
    "empty": ([("xs", {"type": "array", "items": "string"}), ("m", {"type": "map", "values": "double"})], lambda i: {"xs": [], "m": {}}),
    "union_in_array": ([("us", {"type": "array", "items": ["null", "long", "string", _ITEM]})], lambda i: {"us": [None, i, f"s{i}", {"sku": "k", "qty": i}][: i % 5]}),
    "logical_in_nested": ([("ls", {"type": "array", "items": _LOGICAL}), ("lm", {"type": "map", "values": ["null", "Lg"]})], lambda i: {"ls": [_logical(i + j) for j in range(i % 3)], "lm": {"a": _logical(i), "b": None}}),
    "nan_in_nested": ([("ds", {"type": "array", "items": "double"})], lambda i: {"ds": [float("nan"), float(i), float("-inf")]}),
}


def _nested_case(shape: str, n: int = 12):
    fields, row = NESTED_SHAPES[shape]
    sch = parse_schema(_rec("Top", [("id", "long")] + fields))
    rows = [{"id": i, **row(i)} for i in range(n)]
    return sch, [encode_datum(sch, r) for r in rows]


class TestLeafColumns:
    """The generated tier writes nested values into leaf columns and
    assembles Spark's Arrow values from them; compared as those Arrow
    values, it matches the closure reference on every nested shape."""

    @pytest.mark.parametrize("shape", list(NESTED_SHAPES))
    def test_nested_shape_matches_closure(self, shape):
        sch, blobs = _nested_case(shape)
        sj = json.dumps(sch.to_json())
        types = arrow_schema(sch)
        dec = compile_decoder(sch, mode="spark")
        want = repr(arrow_rows([dec(BinaryReader(b)) for b in blobs], types))
        bd = get_batch_decoder(sj, "spark")
        got, end = stream_rows(bd, b"".join(blobs), len(blobs), types)
        assert end == sum(map(len, blobs))
        assert repr(got) == want
        outs = bd.new_columns()
        bd.decode_blobs(blobs, outs)
        assert repr(columns_rows(bd, outs, types)) == want
        # the resolver (reader = writer, via a renamed-away copy) too
        br = get_batch_resolver(sj, json.dumps({**sch.to_json(), "doc": "reader"}), "spark")
        assert repr(stream_rows(br, b"".join(blobs), len(blobs), types)[0]) == want

    def test_no_per_row_dict_or_list(self):
        """A nested value leaves no dict or list behind: the generated
        source builds none, for the decoder and the resolver alike."""
        sch, _ = _nested_case("logical_in_nested")
        sj = json.dumps(sch.to_json())
        reader = {**sch.to_json(), "fields": sch.to_json()["fields"] + [{"name": "x", "type": "long", "default": 1}]}
        for bd in (get_batch_decoder(sj, "spark"), get_batch_resolver(sj, json.dumps(reader), "spark")):
            body = bd.source.split("try:", 1)[1]
            assert re.findall(r"\[\]|\{|\bdict\(|\blist\(", body) == []

    def test_duplicate_map_key_last_value_at_first_position(self):
        sch = parse_schema(_rec("D", [("m", {"type": "map", "values": "long"}), ("xs", {"type": "array", "items": "long"})]))
        # m = {"a": 1, "b": 2, "a": 3} in one block; xs in a negative-count
        # block with its byte size, then a plain block
        items = _zz(5) + _zz(6)
        blob = (
            _zz(3) + _s("a") + _zz(1) + _s("b") + _zz(2) + _s("a") + _zz(3) + _zz(0)
            + _zz(-2) + _zz(len(items)) + items + _zz(1) + _zz(7) + _zz(0)
        )
        clean = encode_datum(sch, {"m": {"x": 1, "y": 2}, "xs": []})
        blobs = [clean, blob, clean]
        want = [compile_decoder(sch, mode="spark")(BinaryReader(b)) for b in blobs]
        assert want[1] == {"m": {"a": 3, "b": 2}, "xs": [5, 6, 7]}
        types = arrow_schema(sch)
        got, _ = stream_rows(get_batch_decoder(json.dumps(sch.to_json()), "spark"), b"".join(blobs), 3, types)
        assert got == arrow_rows(want, types)
        assert got[1]["m"] == [("a", 3), ("b", 2)]

    def test_reader_only_nested_field_is_its_default(self):
        writer = _rec("Top", [("id", "long"), ("xs", {"type": "array", "items": _ITEM}), ("r", ["null", _rec("R", [("a", "long")])])])
        item = {**_ITEM, "fields": _ITEM["fields"] + [{"name": "note", "type": ["string", "null"], "default": "n"}]}
        inner = {"type": "record", "name": "In", "fields": [{"name": "v", "type": "int"}]}
        r = _rec("R", [("a", "long")])
        r["fields"].append({"name": "in", "type": inner, "default": {"v": 9}})
        reader = _rec("Top", [("id", "long"), ("xs", {"type": "array", "items": item}), ("r", ["null", r])])
        reader["fields"].append({"name": "tags", "type": {"type": "map", "values": "long"}, "default": {"k": 1}})
        ws, rs = parse_schema(writer), parse_schema(reader)
        rows = [{"id": i, "xs": [{"sku": f"s{j}", "qty": j} for j in range(i % 3)], "r": None if i % 2 else {"a": i}} for i in range(9)]
        blobs = [encode_datum(ws, row) for row in rows]
        want = [compile_resolver(ws, rs, mode="spark")(BinaryReader(b)) for b in blobs]
        types = arrow_schema(rs)
        br = get_batch_resolver(json.dumps(ws.to_json()), json.dumps(rs.to_json()), "spark")
        got, _ = stream_rows(br, b"".join(blobs), len(blobs), types)
        assert got == arrow_rows(want, types)
        assert got[2]["r"]["in"] == {"v": 9} and got[2]["xs"][1]["note"] == "n"
        assert got[0]["tags"] == [("k", 1)]

    @pytest.mark.parametrize("shape", ["array_of_records", "map_of_records", "union_in_array", "nullable_record"])
    def test_permissive_failure_leaves_no_partial_child(self, shape):
        """A row that fails after some of its child values were appended
        is one null row; none of its children reach the batch."""
        from redshift_avro_spark.avroio.ladder import get_decoder

        sch, blobs = _nested_case(shape)
        # cut row 7 inside its last child value
        bad = blobs[7][:-1]
        spans = blobs[:7] + [bad] + blobs[8:]
        buf = b"".join(spans)
        ends = np.cumsum([len(b) for b in spans])
        sj = json.dumps(sch.to_json())
        batch = get_decoder(sj).decode_spans(buf, ends - [len(b) for b in spans], ends, permissive=True)
        dec = compile_decoder(sch, mode="spark")
        want = [dec(BinaryReader(b)) for b in blobs]
        want[7] = {}
        types = arrow_schema(sch)
        assert repr(batch.to_pylist()) == repr(arrow_rows(want, types))
        child = batch.column(1)
        if isinstance(child, pa.StructArray):
            child = child.field(1)
        if isinstance(child, pa.ListArray):  # map arrays included
            assert len(child.values) == child.offsets[-1].as_py()

    def test_permissive_failure_with_reader_only_fields(self):
        """Reader-only fields (here the first one, and one inside the
        array's items) are constants; a failed row still rolls back to
        the rows before it."""
        from redshift_avro_spark.avroio.ladder import get_decoder

        writer = _rec("Top", [("id", "long"), ("xs", {"type": "array", "items": _ITEM})])
        item = {**_ITEM, "fields": _ITEM["fields"] + [{"name": "note", "type": "string", "default": "n"}]}
        reader = {"type": "record", "name": "Top", "fields": [
            {"name": "tag", "type": "string", "default": "t"},
            {"name": "id", "type": "long"},
            {"name": "xs", "type": {"type": "array", "items": item}},
        ]}
        ws, rs = parse_schema(writer), parse_schema(reader)
        blobs = [encode_datum(ws, {"id": i, "xs": [{"sku": "s", "qty": j} for j in range(i % 3)]}) for i in range(6)]
        spans = blobs[:4] + [blobs[4][:-1]] + blobs[5:]
        ends = np.cumsum([len(b) for b in spans])
        dec = get_decoder(json.dumps(ws.to_json()), json.dumps(rs.to_json()))
        batch = dec.decode_spans(b"".join(spans), ends - [len(b) for b in spans], ends, permissive=True)
        res = compile_resolver(ws, rs, mode="spark")
        want = [res(BinaryReader(b)) for b in blobs]
        want[4] = {}
        assert batch.to_pylist() == arrow_rows(want, arrow_schema(rs))


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
        want = [compile_decoder(sch, mode="spark")(BinaryReader(blob))]
        # Spark has no recursive type: spell out the value's depth
        tail = pa.struct([("v", pa.int64()), ("next", pa.null())])
        types = pa.schema([("v", pa.int64()), ("next", pa.struct([("v", pa.int64()), ("next", tail)]))])
        got, end = stream_rows(bd, blob, 1, types)
        assert end == len(blob)
        assert got == arrow_rows(want, types)

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
    types = arrow_schema(FUZZ_SCHEMA)
    assert columns_rows(bd, outs, types) == arrow_rows(want, types)

"""Differential tests: the generated batch RESOLVER (codegen.py
``get_batch_resolver``) vs the closure resolver (binary.py
``compile_resolver``). Evolution semantics (reference io.py:680-702 +
the record resolution plan) live in the closures; the generated code
must be a pure execution-strategy change — value-identical output,
same error classes, across promotions / defaults / reordering / enum
remap / union re-resolution / skipped fields."""

from __future__ import annotations

import datetime as dt
import json

import pyarrow as pa
import pytest

from redshift_avro_spark.avroio import parse_schema
from redshift_avro_spark.avroio.binary import (
    BinaryReader,
    SchemaResolutionError,
    compile_resolver,
    encode_datum,
)
from redshift_avro_spark.avroio.codegen import get_batch_resolver
from tests.test_codegen_codec import arrow_rows, arrow_schema, stream_rows


def _pair(writer: dict, reader: dict):
    ws, rs = parse_schema(writer), parse_schema(reader)
    return ws, rs, json.dumps(ws.to_json()), json.dumps(rs.to_json())


def _assert_parity(writer: dict, reader: dict, rows: list[dict]):
    ws, rs, wj, rj = _pair(writer, reader)
    blobs = [encode_datum(ws, r) for r in rows]
    payload = b"".join(blobs)
    res = compile_resolver(ws, rs, mode="spark")
    want = [res(BinaryReader(b)) for b in blobs]
    br = get_batch_resolver(wj, rj, "spark")
    assert br is not None, "codegen declined"
    types = arrow_schema(rs)
    got, end = stream_rows(br, payload, len(blobs), types)
    assert end == len(payload)
    assert got == arrow_rows(want, types)
    outs = br.new_columns()
    br.decode_blobs(blobs, outs, False)
    for i, name in enumerate(br.names):
        typ = types.field(name).type
        got_col = br.column_array(i, outs, typ).to_pylist()
        assert got_col == pa.array([r[name] for r in want], typ).to_pylist(), name
    return br


WRITER = {
    "type": "record",
    "name": "Ev",
    "fields": [
        {"name": "id", "type": "int"},
        {"name": "legacy_note", "type": "string"},
        {"name": "amount", "type": "float"},
        {"name": "tags", "type": {"type": "array", "items": "int"}},
        {"name": "attrs", "type": {"type": "map", "values": "string"}},
        {"name": "color", "type": {"type": "enum", "name": "C", "symbols": ["R", "G", "B"]}},
        {"name": "opt", "type": ["null", "string"]},
        {"name": "payload", "type": "bytes"},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {
            "name": "nested",
            "type": {
                "type": "record",
                "name": "N",
                "fields": [
                    {"name": "a", "type": "int"},
                    {"name": "gone", "type": {"type": "array", "items": "string"}},
                    {"name": "b", "type": ["null", "double"]},
                ],
            },
        },
    ],
}

READER = {
    "type": "record",
    "name": "Ev",
    "fields": [
        # reordered, promoted, defaulted, renamed-away
        {"name": "amount", "type": "double"},
        {"name": "id", "type": "long"},
        {"name": "tags", "type": {"type": "array", "items": "double"}},
        {"name": "attrs", "type": {"type": "map", "values": "bytes"}},
        {
            "name": "color",
            "type": {"type": "enum", "name": "C", "symbols": ["R", "G"], "default": "R"},
        },
        {"name": "opt", "type": ["null", "string"]},
        {"name": "payload", "type": "string"},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {
            "name": "nested",
            "type": {
                "type": "record",
                "name": "N",
                "fields": [
                    {"name": "b", "type": ["null", "double"]},
                    {"name": "a", "type": "long"},
                    {"name": "c", "type": "string", "default": "cc"},
                ],
            },
        },
        {"name": "added", "type": "string", "default": "dflt"},
        {"name": "added_opt", "type": ["null", "long"], "default": None},
    ],
}


def _rows(n: int) -> list[dict]:
    return [
        {
            "id": i,
            "legacy_note": "x" * (i % 7),
            "amount": i * 0.5,
            "tags": list(range(i % 4)),
            "attrs": {f"k{j}": f"v{j}" for j in range(i % 3)},
            "color": "RGB"[i % 3],
            "opt": None if i % 2 else f"o{i}",
            "payload": f"p{i}".encode("utf-8"),
            "ts": dt.datetime(2023, 1, 1, 12, 0, 0, 500000) + dt.timedelta(seconds=i),
            "nested": {"a": i, "gone": [f"g{i}"], "b": None if i % 3 else i * 0.25},
        }
        for i in range(n)
    ]


class TestKitchenEvolution:
    def test_full_surface_parity(self):
        _assert_parity(WRITER, READER, _rows(60))

    def test_identical_schemas_short_circuit(self):
        ws, rs, wj, rj = _pair(WRITER, WRITER)
        br = get_batch_resolver(wj, wj, "spark")
        assert br is not None
        rows = _rows(5)
        blobs = [encode_datum(ws, r) for r in rows]
        out, _ = stream_rows(br, b"".join(blobs), len(blobs), arrow_schema(ws))
        res = compile_resolver(ws, ws, mode="spark")
        assert out == arrow_rows([res(BinaryReader(b)) for b in blobs], arrow_schema(ws))


class TestUnionResolution:
    def test_general_union_member_struct(self):
        writer = {
            "type": "record",
            "name": "U",
            "fields": [{"name": "u", "type": ["long", "string", "null"]}],
        }
        reader = {
            "type": "record",
            "name": "U",
            "fields": [{"name": "u", "type": ["null", "string", "long"]}],
        }
        rows = [{"u": 5}, {"u": "s"}, {"u": None}, {"u": 9}]
        br = _assert_parity(writer, reader, rows)
        # spark mode must surface member-structs keyed by READER branch order
        ws, rs, wj, rj = _pair(writer, reader)
        blobs = [encode_datum(ws, r) for r in rows]
        out, _ = stream_rows(get_batch_resolver(wj, rj, "spark"), b"".join(blobs), len(blobs), arrow_schema(rs))
        assert out[0]["u"] == {"member0": None, "member1": 5}
        assert out[1]["u"] == {"member0": "s", "member1": None}
        assert out[2]["u"] is None

    def test_writer_narrow_to_reader_wide(self):
        writer = {
            "type": "record",
            "name": "W",
            "fields": [{"name": "v", "type": "int"}],
        }
        reader = {
            "type": "record",
            "name": "W",
            "fields": [{"name": "v", "type": ["null", "double"]}],
        }
        _assert_parity(writer, reader, [{"v": i} for i in range(8)])

    def test_writer_union_branch_unresolvable_raises_at_runtime(self):
        writer = {
            "type": "record",
            "name": "W",
            "fields": [{"name": "v", "type": ["null", "string", "long"]}],
        }
        reader = {
            "type": "record",
            "name": "W",
            "fields": [{"name": "v", "type": ["null", "long"]}],
        }
        ws, rs, wj, rj = _pair(writer, reader)
        ok = [{"v": None}, {"v": 7}]
        _assert_parity(writer, reader, ok)
        # the string branch resolves for neither engine — same error class
        bad = encode_datum(ws, {"v": "boom"})
        br = get_batch_resolver(wj, rj, "spark")
        with pytest.raises(SchemaResolutionError):
            br.decode_stream(bad, 0, 1, br.new_columns())
        with pytest.raises(SchemaResolutionError):
            compile_resolver(ws, rs, mode="spark")(BinaryReader(bad))


class TestEnumRemap:
    WRITER = {
        "type": "record",
        "name": "E",
        "fields": [
            {"name": "c", "type": {"type": "enum", "name": "C", "symbols": ["R", "G", "B"]}}
        ],
    }

    def test_absent_symbol_without_default_raises(self):
        reader = {
            "type": "record",
            "name": "E",
            "fields": [
                {"name": "c", "type": {"type": "enum", "name": "C", "symbols": ["R", "G"]}}
            ],
        }
        ws, rs, wj, rj = _pair(self.WRITER, reader)
        _assert_parity(self.WRITER, reader, [{"c": "R"}, {"c": "G"}])
        bad = encode_datum(ws, {"c": "B"})
        br = get_batch_resolver(wj, rj, "spark")
        with pytest.raises(SchemaResolutionError):
            br.decode_stream(bad, 0, 1, br.new_columns())
        with pytest.raises(SchemaResolutionError):
            compile_resolver(ws, rs)(BinaryReader(bad))


class TestErrorsAndFallbacks:
    def test_irresolvable_pair_declines_and_closure_raises(self):
        writer = {"type": "record", "name": "X", "fields": [{"name": "v", "type": "string"}]}
        reader = {"type": "record", "name": "X", "fields": [{"name": "v", "type": "long"}]}
        ws, rs, wj, rj = _pair(writer, reader)
        assert get_batch_resolver(wj, rj, "spark") is None
        with pytest.raises(SchemaResolutionError):
            compile_resolver(ws, rs)

    def test_missing_reader_default_declines_and_closure_raises(self):
        writer = {"type": "record", "name": "X", "fields": [{"name": "v", "type": "long"}]}
        reader = {
            "type": "record",
            "name": "X",
            "fields": [
                {"name": "v", "type": "long"},
                {"name": "w", "type": "string"},  # no default
            ],
        }
        ws, rs, wj, rj = _pair(writer, reader)
        assert get_batch_resolver(wj, rj, "spark") is None
        with pytest.raises(SchemaResolutionError):
            compile_resolver(ws, rs)

    def test_recursive_reader_falls_back_inside(self):
        node = {
            "type": "record",
            "name": "Node",
            "fields": [
                {"name": "v", "type": "long"},
                {"name": "next", "type": ["null", "Node"], "default": None},
            ],
        }
        ws, rs, wj, rj = _pair(node, node)
        datum = {"v": 1, "next": {"v": 2, "next": None}}
        blob = encode_datum(ws, datum)
        br = get_batch_resolver(wj, rj, "spark")
        if br is None:  # declined entirely — closure path covers it
            return
        want = [compile_resolver(ws, rs, mode="spark")(BinaryReader(blob))]
        # Spark has no recursive type: spell out the value's depth
        tail = pa.struct([("v", pa.int64()), ("next", pa.null())])
        types = pa.schema([("v", pa.int64()), ("next", tail)])
        out, end = stream_rows(br, blob, 1, types)
        assert end == len(blob)
        assert out == arrow_rows(want, types)

    def test_truncated_input_same_error(self):
        from redshift_avro_spark.avroio.binary import AvroDecodeError

        ws, rs, wj, rj = _pair(WRITER, READER)
        blob = encode_datum(ws, _rows(1)[0])
        br = get_batch_resolver(wj, rj, "spark")
        with pytest.raises(AvroDecodeError):
            br.decode_stream(blob[: len(blob) // 2], 0, 1, br.new_columns())


class TestSkipFastPaths:
    @pytest.mark.parametrize("dropped", ["boolean", "float", "double", {"type": "fixed", "name": "F", "size": 3}])
    def test_truncated_skipped_fixed_width_field_raises(self, dropped):
        """A datum cut inside a writer-only fixed-width field is
        truncated input on both tiers, not a clean row."""
        from redshift_avro_spark.avroio.binary import AvroDecodeError

        writer = {"type": "record", "name": "S", "fields": [{"name": "keep", "type": "long"}, {"name": "drop", "type": dropped}]}
        reader = {"type": "record", "name": "S", "fields": [{"name": "keep", "type": "long"}]}
        ws, rs, wj, rj = _pair(writer, reader)
        value = {"boolean": True, "float": 1.5, "double": 2.5}.get(str(dropped), b"abc")
        blob = encode_datum(ws, {"keep": 7, "drop": value})[:-1]
        with pytest.raises(AvroDecodeError):
            compile_resolver(ws, rs, mode="spark")(BinaryReader(blob))
        br = get_batch_resolver(wj, rj, "spark")
        with pytest.raises(AvroDecodeError):
            br.decode_stream(blob, 0, 1, br.new_columns())

    def test_skipped_block_with_bytesize_hint(self):
        """Writer-only array encoded with the negative-count byte-size
        form must be skipped via the size hint."""
        from redshift_avro_spark.avroio.binary import BinaryWriter

        writer = {
            "type": "record",
            "name": "S",
            "fields": [
                {"name": "drop", "type": {"type": "array", "items": "long"}},
                {"name": "keep", "type": "string"},
            ],
        }
        reader = {
            "type": "record",
            "name": "S",
            "fields": [{"name": "keep", "type": "string"}],
        }
        ws, rs, wj, rj = _pair(writer, reader)
        # hand-encode: array block with negative count + byte-size
        w = BinaryWriter()
        items = [3, 4, 5]
        iw = BinaryWriter()
        for v in items:
            iw.write_long(v)
        item_bytes = iw.getvalue()
        w.write_long(-len(items))
        w.write_long(len(item_bytes))
        w.write_bytes_raw(item_bytes) if hasattr(w, "write_bytes_raw") else w.write(item_bytes)
        w.write_long(0)
        w.write_utf8("kept")
        blob = w.getvalue()
        want = compile_resolver(ws, rs, mode="spark")(BinaryReader(blob))
        br = get_batch_resolver(wj, rj, "spark")
        out, end = stream_rows(br, blob, 1, arrow_schema(rs))
        assert end == len(blob)
        assert out == [want] == [{"keep": "kept"}]

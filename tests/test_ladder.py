"""Decoder ladder (avroio/ladder.py), in process with no SparkSession:
each schema shape reaches its tier by shape alone, every tier returns
the closure reference's values, as Spark's Arrow types, on the span and
block paths, PERMISSIVE
nulls and FAILFAST errors hold on every tier, and the encoders, fed
Arrow batches, are byte-identical to ``encode_datum``."""

from __future__ import annotations

import datetime as dt
import json
import pathlib
import re

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

import redshift_avro_spark
from redshift_avro_spark.avroio.binary import (
    AvroDecodeError,
    BinaryReader,
    compile_decoder,
    compile_resolver,
    encode_datum,
)
from redshift_avro_spark.avroio.codegen import BatchDecoder
from redshift_avro_spark.avroio.convert import avro_to_spark_type, nullable_struct
from redshift_avro_spark.avroio.ladder import LadderDecoder, arrow_spans, get_decoder, get_encoder
from redshift_avro_spark.avroio.schema_model import parse_schema

FLAT = {
    "type": "record",
    "name": "Flat",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "n", "type": "int"},
        {"name": "ok", "type": "boolean"},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {"name": "score", "type": "double"},
        {"name": "kind", "type": "string"},
        {"name": "note", "type": ["null", "string"]},
    ],
}
NESTED = {
    "type": "record",
    "name": "Nested",
    "fields": [
        {"name": "id", "type": "long"},
        {
            "name": "geo",
            "type": {
                "type": "record",
                "name": "Geo",
                "fields": [{"name": "lat", "type": "double"}, {"name": "city", "type": "string"}],
            },
        },
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
        {"name": "ref", "type": ["null", "long"]},
        {"name": "at", "type": {"type": "long", "logicalType": "timestamp-millis"}},
    ],
}
WIDE = {
    "type": "record",
    "name": "Wide",
    "fields": [{"name": f"f{i}", "type": ["null", "string"]} for i in range(300)],
}
EVOLVED_WRITER = {
    "type": "record",
    "name": "Ev",
    "fields": [
        {"name": "id", "type": "int"},
        {"name": "dropped", "type": "string"},
        {"name": "kind", "type": "string"},
    ],
}
EVOLVED_READER = {
    "type": "record",
    "name": "Ev",
    "fields": [
        {"name": "kind", "type": "string"},
        {"name": "id", "type": "long"},
        {"name": "score", "type": "double", "default": 1.5},
    ],
}


def _rows(shape: str, n: int = 40) -> list[dict]:
    if shape == "flat":
        return [
            {
                "id": i * 1_000_003,
                "n": -i,
                "ok": i % 2 == 0,
                "ts": dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i),
                "score": i / 8.0,
                "kind": f"k{i % 3}é",
                "note": None if i % 3 else f"note {i}",
            }
            for i in range(n)
        ]
    if shape == "nested":
        return [
            {
                "id": i,
                "geo": {"lat": i / 4.0, "city": f"c{i}"},
                "tags": [f"t{j}" for j in range(i % 4)],
                "attrs": {f"a{j}": j * i for j in range(i % 3)},
                "ref": None if i % 2 else i * 7,
                "at": dt.datetime(2001, 2, 3) + dt.timedelta(milliseconds=37 * i),
            }
            for i in range(n)
        ]
    if shape == "wide":
        return [
            {f"f{j}": None if (i + j) % 5 == 0 else f"v{i}.{j}" for j in range(300)}
            for i in range(n)
        ]
    return [{"id": i, "dropped": "x" * i, "kind": f"k{i}"} for i in range(n)]


# shape → (writer, reader or None, tier the ladder must pick)
SHAPES = {
    "flat": (FLAT, None, "vector"),
    "nested": (NESTED, None, "generated"),
    "wide": (WIDE, None, "vector"),
    "evolved": (EVOLVED_WRITER, EVOLVED_READER, "generated"),
}


def _canon(schema) -> str:
    return json.dumps(parse_schema(schema).to_json())


def _case(shape: str):
    writer, reader, tier = SHAPES[shape]
    writer_s = parse_schema(writer)
    reader_s = parse_schema(reader) if reader else writer_s
    blobs = [encode_datum(writer_s, r) for r in _rows(shape)]
    reference = (
        compile_resolver(writer_s, reader_s, mode="spark")
        if reader
        else compile_decoder(writer_s, mode="spark")
    )
    dec = get_decoder(_canon(writer), _canon(reader) if reader else None)
    arrow_schema = to_arrow_schema(nullable_struct(avro_to_spark_type(reader_s)))
    return dec, blobs, reference, arrow_schema, tier


def _tier(dec) -> str:
    if dec._vector is not None:
        return "vector"
    return "generated" if isinstance(dec._rows, BatchDecoder) else "closure"


def _arrow_columns(rows: list, arrow_schema) -> dict:
    """Reference rows (None → a row of nulls) as Spark's Arrow types."""
    return pa.Table.from_pylist([r or {} for r in rows], arrow_schema).to_pydict()


@pytest.mark.parametrize("shape", list(SHAPES))
def test_shape_picks_its_tier(shape):
    dec, *_, tier = _case(shape)
    assert _tier(dec) == tier
    if shape == "wide":  # codegen declines: a failed vector batch falls to closures
        assert not isinstance(dec._rows, BatchDecoder)


def _shared_spans(blobs: list):
    """blobs (None → a null row) as spans of one shared buffer, each
    behind a junk byte, so no span starts where a join would put it."""
    buf = bytearray()
    starts, ends = [], []
    for b in blobs:
        buf += b"\xee"
        starts.append(len(buf))
        buf += b or b""
        ends.append(len(buf))
    null_mask = np.array([b is None for b in blobs])
    return bytes(buf), np.array(starts), np.array(ends), null_mask


def _decode_arrow(dec, blobs: list, permissive: bool = False):
    """blobs (None → a NULL cell) through the production entry: one
    Arrow binary column's spans (:func:`arrow_spans`)."""
    buf, starts, ends, null_mask = arrow_spans(pa.array(blobs, pa.binary()))
    return dec.decode_spans(buf, starts, ends, permissive, null_mask)


@pytest.mark.parametrize(
    "shape, path",
    [(s, "arrow") for s in SHAPES] + [(s, "spans") for s in SHAPES],
    ids=[*SHAPES, *(f"{s}-spans" for s in SHAPES)],
)
def test_blob_path_matches_closure_reference(shape, path):
    dec, blobs, reference, arrow_schema, _ = _case(shape)
    want_rows = [reference(BinaryReader(b)) for b in blobs]
    if path == "arrow":
        got = _decode_arrow(dec, blobs + [None])
    else:
        buf, starts, ends, null_mask = _shared_spans(blobs + [None])
        got = dec.decode_spans(buf, starts, ends, null_mask=null_mask)
    assert got.schema == arrow_schema
    assert got.to_pydict() == _arrow_columns(want_rows + [None], arrow_schema)


@pytest.mark.parametrize("shape", list(SHAPES))
def test_block_path_matches_closure_reference(shape):
    dec, blobs, reference, arrow_schema, _ = _case(shape)
    blocks = [(len(part), b"".join(part)) for part in (blobs[:7], blobs[7:8], blobs[8:])]
    got = pa.Table.from_batches(list(dec.decode_blocks(blocks, arrow_schema)), arrow_schema)
    want_rows = [reference(BinaryReader(b)) for b in blobs]
    assert got.to_pylist() == pa.Table.from_pylist(want_rows, arrow_schema).to_pylist()


@pytest.mark.parametrize("shape", list(SHAPES))
def test_truncated_row_is_permissive_null_or_typed_error(shape):
    dec, blobs, reference, arrow_schema, _ = _case(shape)
    batch = [blobs[1], blobs[1][:-5], blobs[2]]
    got = _decode_arrow(dec, batch, permissive=True).to_pydict()
    want = _arrow_columns([reference(BinaryReader(b)) for b in blobs[1:3]], arrow_schema)
    for n in dec.names:
        assert got[n] == [want[n][0], None, want[n][1]]
    with pytest.raises(AvroDecodeError):
        _decode_arrow(dec, batch)


@pytest.mark.parametrize("shape", list(SHAPES))
def test_truncated_block_raises_typed_error(shape):
    dec, blobs, _, arrow_schema, _ = _case(shape)
    with pytest.raises(AvroDecodeError):
        list(dec.decode_blocks([(3, b"".join(blobs[:3])[:-5])], arrow_schema))


@pytest.mark.parametrize("shape", ["flat", "nested", "wide"])
@pytest.mark.parametrize("columns", ["all", "missing_default"])
def test_encoder_matches_encode_datum(shape, columns):
    schema = dict(SHAPES[shape][0])
    rows = _rows(shape)
    if columns == "missing_default":  # a field absent from the batch takes its default
        schema["fields"] = schema["fields"] + [
            {"name": "extra", "type": "string", "default": "dflt"}
        ]
    parsed = parse_schema(schema)
    # the batch Spark hands an encode site: Spark's Arrow form of the rows
    arrow_schema = to_arrow_schema(avro_to_spark_type(parse_schema(SHAPES[shape][0])))
    batch = pa.RecordBatch.from_pylist(rows, schema=arrow_schema)
    want = [encode_datum(parsed, r) for r in rows]
    enc = get_encoder(_canon(schema))
    assert enc.encode_arrow(batch).to_pylist() == want
    assert enc.encode_arrow(batch.to_struct_array()).to_pylist() == want
    offs, buf = enc.encode_buffer(batch)
    assert buf.tobytes() == b"".join(want)
    assert offs.tolist() == [0] + np.cumsum([len(w) for w in want]).tolist()


def test_generated_tier_reads_sliced_nested_arrow():
    """The generated tier builds its value columns from Arrow child
    arrays: a sliced batch with NULL structs, lists, elements and map
    values, a nested NaN and nested timestamps encodes as
    ``encode_datum`` encodes the same rows."""
    ts = {"type": "long", "logicalType": "timestamp-micros"}
    inner = {
        "type": "record",
        "name": "Inner",
        "fields": [{"name": "x", "type": ["null", "double"]}, {"name": "t", "type": ts}],
    }
    schema = {
        "type": "record",
        "name": "Holes",
        "fields": [
            {"name": "s", "type": ["null", inner]},
            {"name": "xs", "type": ["null", {"type": "array", "items": ["null", "long"]}]},
            {"name": "m", "type": ["null", {"type": "map", "values": ["null", "string"]}]},
        ],
    }
    t0 = dt.datetime(1999, 12, 31, 23, 59, 59, 999999)
    rows = [
        {"s": {"x": float("nan"), "t": t0}, "xs": [1, None, 3], "m": {"a": "x", "b": None}},
        {"s": None, "xs": None, "m": None},
        {"s": {"x": None, "t": dt.datetime(1960, 1, 1)}, "xs": [], "m": {}},
        {"s": {"x": -0.5, "t": t0}, "xs": [None], "m": {"": "é"}},
    ] * 3
    parsed = parse_schema(schema)
    arrow_schema = to_arrow_schema(avro_to_spark_type(parsed))
    batch = pa.RecordBatch.from_pylist(rows, schema=arrow_schema).slice(1, len(rows) - 2)
    enc = get_encoder(_canon(schema))
    assert enc._vector is None and enc._generated is not None
    assert enc.encode_arrow(batch).to_pylist() == [encode_datum(parsed, r) for r in rows[1:-1]]


def test_only_the_ladder_chooses_a_tier():
    pkg = pathlib.Path(redshift_avro_spark.__file__).parent
    tier_modules = {"avroio/ladder.py", "avroio/codegen.py", "avroio/vectorized.py"}
    pattern = re.compile(r"get_(vector|batch)_\w+|VectorFallback")
    offenders = [
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if str(p.relative_to(pkg)) not in tier_modules and pattern.search(p.read_text())
    ]
    assert offenders == []


def test_encode_sites_hand_the_ladder_arrow():
    """Every Spark encode site passes Arrow: the pandas encode bridge
    and the per-row sink loop stay gone, and the codec's encode path
    imports no pandas."""
    pkg = pathlib.Path(redshift_avro_spark.__file__).parent
    gone = re.compile(
        r"encode_pandas|columns_from_pandas|append_pandas|_struct_to_pandas|_row_to_dict"
    )
    offenders = [str(p.relative_to(pkg)) for p in pkg.rglob("*.py") if gone.search(p.read_text())]
    assert offenders == []
    imports_pandas = re.compile(r"^\s*(import pandas|from pandas\b)|pandas_udf", re.M)
    arrow_only = [
        "avroio/ladder.py",
        "avroio/container.py",
        "avroio/codegen.py",
        "sources/files.py",
        "sources/columns.py",
    ]
    assert [f for f in arrow_only if imports_pandas.search((pkg / f).read_text())] == []


def test_decode_sites_hand_the_ladder_spans():
    """Raw datums enter the ladder only as spans: the blob-list entry
    and the container column's per-cell copies of the block loop stay
    gone."""
    assert not hasattr(LadderDecoder, "decode_blobs")
    pkg = pathlib.Path(redshift_avro_spark.__file__).parent
    columns = (pkg / "sources/columns.py").read_text()
    assert re.findall(r"decode_blobs\(|_cell_blocks|decode_cell_struct", columns) == []

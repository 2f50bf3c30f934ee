"""Avro single-object encoding: framing, fingerprints, evolution.

Spec facts pinned here: the ``C3 01`` marker, the LITTLE-endian
CRC-64-AVRO fingerprint (the spec's one little-endian field), and
known fingerprint values cross-checked against the schema_model
known-value test. fastavro/avro-python3 are absent from the sandbox,
so the golden value is the spec's own: fingerprint64 of ``"string"``
is pinned in test_avroio_codec via the CRC-64-AVRO empty basis.
"""

from __future__ import annotations

import json
import struct

import pyarrow as pa
import pytest

from redshift_avro_spark.avroio.binary import AvroDecodeError
from redshift_avro_spark.avroio.schema_model import fingerprint64, parse_schema
from redshift_avro_spark.avroio.single_object import (
    HEADER_LEN,
    SchemaStore,
    V1_MARKER,
    decode_single_object,
    encode_single_object,
    read_single_object_header,
)

EVENT_V1 = parse_schema(
    {
        "type": "record",
        "name": "Event",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "kind", "type": "string"},
        ],
    }
)
EVENT_V2 = parse_schema(
    {
        "type": "record",
        "name": "Event",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "kind", "type": "string"},
            {"name": "score", "type": "double", "default": 1.5},
        ],
    }
)


def test_frame_layout():
    msg = encode_single_object(EVENT_V1, {"id": 7, "kind": "x"})
    assert msg[:2] == V1_MARKER == b"\xc3\x01"
    assert struct.unpack("<Q", msg[2:10])[0] == fingerprint64(EVENT_V1)
    assert read_single_object_header(msg) == fingerprint64(EVENT_V1)


def test_roundtrip():
    datum = {"id": 42, "kind": "click"}
    assert decode_single_object(EVENT_V1, encode_single_object(EVENT_V1, datum)) == datum


def test_bad_marker_truncation_and_fingerprint_mismatch():
    msg = encode_single_object(EVENT_V1, {"id": 1, "kind": "a"})
    with pytest.raises(AvroDecodeError, match="marker"):
        read_single_object_header(b"\xc3\x02" + msg[2:])
    with pytest.raises(AvroDecodeError, match="truncated"):
        read_single_object_header(msg[: HEADER_LEN - 1])
    with pytest.raises(AvroDecodeError, match="does not match"):
        decode_single_object(EVENT_V2, msg)


def test_schema_store_resolves_by_fingerprint_with_evolution():
    store = SchemaStore()
    store.register(EVENT_V1)
    store.register(EVENT_V2)
    m1 = encode_single_object(EVENT_V1, {"id": 1, "kind": "a"})
    m2 = encode_single_object(EVENT_V2, {"id": 2, "kind": "b", "score": 9.0})
    # mixed-version stream: each message resolves its own writer
    assert store.decode(m1) == {"id": 1, "kind": "a"}
    assert store.decode(m2) == {"id": 2, "kind": "b", "score": 9.0}
    # evolve everything to the v2 reader: v1 messages gain the default
    assert store.decode(m1, reader_schema=EVENT_V2) == {"id": 1, "kind": "a", "score": 1.5}


def test_unknown_fingerprint_is_typed_error():
    store = SchemaStore()
    store.register(EVENT_V1)
    msg = encode_single_object(EVENT_V2, {"id": 3, "kind": "c", "score": 0.0})
    with pytest.raises(AvroDecodeError, match="unknown writer schema fingerprint"):
        store.decode(msg)


def test_fingerprint_is_canonical_not_textual():
    # same canonical form (extra doc/aliases stripped) → same fingerprint
    noisy = parse_schema(
        {
            "type": "record",
            "name": "Event",
            "doc": "irrelevant",
            "fields": [
                {"name": "id", "type": "long", "doc": "x"},
                {"name": "kind", "type": "string"},
            ],
        }
    )
    assert fingerprint64(noisy) == fingerprint64(EVENT_V1)
    assert decode_single_object(EVENT_V1, encode_single_object(noisy, {"id": 5, "kind": "k"})) == {
        "id": 5,
        "kind": "k",
    }


TRIP = {
    "type": "record",
    "name": "Trip",
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
    ],
}
NESTED_V1 = parse_schema(TRIP)
NESTED_V2 = parse_schema(
    {**TRIP, "fields": [*TRIP["fields"], {"name": "score", "type": "double", "default": 1.5}]}
)
# a writer no test registers: its fingerprint is unknown
OTHER = parse_schema({"type": "record", "name": "Other", "fields": [{"name": "x", "type": "long"}]})
# shape → (older writer, newer writer = reader, tier of the reader's own decoder)
VERSIONS = {"flat": (EVENT_V1, EVENT_V2, "vector"), "nested": (NESTED_V1, NESTED_V2, "generated")}


def _datum(schema, i: int) -> dict:
    row = {"id": i, "kind": f"k{i}", "geo": {"lat": i / 4.0, "city": f"c{i}"}}
    row.update(tags=[f"t{j}" for j in range(i % 3)], score=i / 2.0)
    return {f.name: row[f.name] for f in schema.fields}


def _mixed_cells(v1, v2) -> list:
    """Messages of both versions, in no group order, around a NULL, a
    5-byte cell, an unknown fingerprint, a bad marker and a truncated
    payload. Cell 0 is sliced away by the tests."""
    msgs = [encode_single_object(s, _datum(s, i)) for i, s in enumerate([v1, v2] * 4)]
    return [
        b"sliced away",
        msgs[0],
        msgs[1],
        None,
        msgs[2],
        msgs[3][:5],
        msgs[3],
        encode_single_object(OTHER, {"x": 1}),
        msgs[4],
        b"\xc3\x02" + msgs[5][2:],
        msgs[6],
        msgs[7][:-3],
        msgs[1],
    ]


@pytest.mark.parametrize("shape", list(VERSIONS))
def test_batch_decode_matches_per_row_reference(shape):
    """The column function's per-batch body on a sliced Arrow column:
    PERMISSIVE gives what ``SchemaStore.decode`` gives row by row (a
    row of nulls where it raises), and FAILFAST raises for the first
    bad row in row order."""
    from redshift_avro_spark.avroio.ladder import get_decoder
    from redshift_avro_spark.sources.columns import _single_object_batch

    v1, v2, tier = VERSIONS[shape]
    reader_json = json.dumps(v2.to_json())
    by_fp = {fingerprint64(s): json.dumps(s.to_json()) for s in (v1, v2)}
    assert (get_decoder(reader_json)._vector is not None) == (tier == "vector")
    cells = _mixed_cells(v1, v2)
    arr = pa.array(cells, pa.binary()).slice(1)
    assert arr.offset == 1

    store = SchemaStore()
    store.register(v1)
    store.register(v2)

    def reference(cell):
        try:
            return store.decode(cell, reader_schema=v2)
        except Exception:  # noqa: BLE001 — a row of nulls under PERMISSIVE
            return None

    want = [None if c is None else reference(c) for c in cells[1:]]
    assert [i for i, r in enumerate(want) if r is None] == [2, 4, 6, 8, 10]
    got = _single_object_batch(by_fp, reader_json, arr, True)
    assert got.to_pylist() == [r or dict.fromkeys(f.name for f in v2.fields) for r in want]

    unknown = int.from_bytes(cells[7][2:HEADER_LEN], "little")
    for start, message in [
        (0, "bad single-object framing at row 4: c301"),
        (5, f"unknown writer schema fingerprint {unknown:#018x} at row 1"),
        (7, "bad single-object framing at row 1: c302"),
        (9, ""),  # the truncated payload: the ladder's typed error
    ]:
        with pytest.raises(AvroDecodeError, match=message):
            _single_object_batch(by_fp, reader_json, arr.slice(start), False)
    tail = _single_object_batch(by_fp, reader_json, arr.slice(11), False)
    assert tail.equals(got.slice(11))


def test_spark_column_decode_mixed_versions(spark):
    """from_avro_single_object: one binary column carrying BOTH schema
    versions, each row resolving its writer by embedded fingerprint,
    everything evolved to the v2 reader; nulls and (PERMISSIVE) bad
    framing and unknown fingerprints map to null rows."""
    from pyspark.sql import functions as F

    from redshift_avro_spark.sources.columns import from_avro_single_object

    rows = []
    for i in range(40):
        if i % 2:
            rows.append((i, encode_single_object(EVENT_V1, {"id": i, "kind": f"k{i}"})))
        else:
            rows.append(
                (i, encode_single_object(EVENT_V2, {"id": i, "kind": f"k{i}", "score": i / 2.0}))
            )
    rows.append((98, None))
    rows.append((99, b"\x00\x01not-a-message"))
    rows.append((100, encode_single_object(OTHER, {"x": 1})))
    df = spark.createDataFrame(rows, "row_id long, msg binary")
    out = df.select(
        "row_id",
        from_avro_single_object(
            "msg", [EVENT_V1, EVENT_V2], reader_schema=EVENT_V2, mode="PERMISSIVE"
        ).alias("e"),
    ).select("row_id", "e.*")
    got = {r.row_id: (r.id, r.kind, r.score) for r in out.collect()}
    for i in range(40):
        want_score = 1.5 if i % 2 else i / 2.0  # v1 rows gain the default
        assert got[i] == (i, f"k{i}", want_score)
    assert got[98] == (None, None, None)
    assert got[99] == (None, None, None)
    assert got[100] == (None, None, None)

    # FAILFAST surfaces the framing error and the unknown fingerprint
    import pytest as _pytest

    def strict(rows):
        return rows.select(
            from_avro_single_object("msg", [EVENT_V1, EVENT_V2], reader_schema=EVENT_V2).alias("e")
        )

    with _pytest.raises(Exception, match="framing|marker"):
        strict(df.where("row_id != 100")).collect()
    with _pytest.raises(Exception, match="fingerprint"):
        strict(df.where("row_id != 99")).collect()


def test_spark_column_permissive_on_closure_tier(spark):
    """A record too wide for codegen (300 nullable strings): a message
    cut short decodes to a null row under PERMISSIVE, as from_avro
    does, instead of failing the job."""
    from pyspark.sql import functions as F

    from redshift_avro_spark.sources.columns import from_avro, from_avro_single_object

    wide = parse_schema(
        {
            "type": "record",
            "name": "Wide",
            "fields": [{"name": f"f{i}", "type": ["null", "string"]} for i in range(300)],
        }
    )
    msg = encode_single_object(wide, {f"f{i}": "v" for i in range(300)})
    df = spark.createDataFrame([(0, msg), (1, msg[:-5])], "row_id long, msg binary")
    single = df.select(
        "row_id", from_avro_single_object("msg", [wide], mode="PERMISSIVE").alias("e")
    )
    raw = df.select(
        "row_id",
        from_avro(F.expr(f"substring(msg, {HEADER_LEN + 1})"), wide, mode="PERMISSIVE").alias("e"),
    )
    for out in (single, raw):
        assert [r.f0 for r in out.orderBy("row_id").select("e.f0").collect()] == ["v", None]

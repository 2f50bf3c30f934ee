"""Avro single-object encoding: framing, fingerprints, evolution.

Spec facts pinned here: the ``C3 01`` marker, the LITTLE-endian
CRC-64-AVRO fingerprint (the spec's one little-endian field), and
known fingerprint values cross-checked against the schema_model
known-value test. fastavro/avro-python3 are absent from the sandbox,
so the golden value is the spec's own: fingerprint64 of ``"string"``
is pinned in test_avroio_codec via the CRC-64-AVRO empty basis.
"""

from __future__ import annotations

import struct

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


def test_spark_column_decode_mixed_versions(spark):
    """from_avro_single_object: one binary column carrying BOTH schema
    versions, each row resolving its writer by embedded fingerprint,
    everything evolved to the v2 reader; nulls and (PERMISSIVE) bad
    framing map to null rows."""
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

    # FAILFAST surfaces the framing error
    import pytest as _pytest

    strict = df.select(
        from_avro_single_object("msg", [EVENT_V1, EVENT_V2], reader_schema=EVENT_V2).alias("e")
    )
    with _pytest.raises(Exception, match="framing|marker"):
        strict.collect()


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

"""Envelope + registry + Redshift-UDF-protocol tests, including the
reference's golden byte vectors (SURVEY FIXTURES.md A3/A4)."""

from __future__ import annotations

import io
import json

import pytest
from pyspark.sql import functions as F

from test_avroio_codec import GOLDEN_CONTAINER_HEX

from redshift_avro_spark.avroio import encode_datum, parse_schema, write_container
from redshift_avro_spark.sources import (
    InMemorySchemaRegistry,
    SpringSchemaRegistry,
    container_file_handler,
    decode_kpl_aggregate,
    explode_kpl,
    extract_spring_headers,
    from_avro,
    parse_spring_content_type,
    parse_spring_message,
    registry_datum_handler,
    spring_kpl_handler,
    spring_registry_url,
)
from redshift_avro_spark.sources.envelopes import (
    KplAggregate,
    KplRecord,
    KplTag,
    _len_field,
    _varint_field,
    build_spring_message,
    encode_kpl_aggregate,
    encode_kpl_simple,
    kpl_sub_payloads,
)

# the upstream spring-cloud-stream test vector the reference embeds
# (springcloud-lambda-udf/lambda_function.py:250-259)
# The reference's two golden Redshift-UDF payloads, rebuilt from the
# container hex they carry: avro-file-udf/payload.json is the batch dict
# with four identical [hex] argument rows; python-udf/payload.json is a
# BARE list of the same [hex] rows.
PYTHON_UDF_PAYLOAD = [[GOLDEN_CONTAINER_HEX]] * 4
AVRO_FILE_UDF_PAYLOAD = {
    "request_id": "request-1",
    "cluster": "cluster-1",
    "user": "user-1",
    "database": "db-1",
    "external_function": "public.decode_avro",
    "query_id": 1,
    "num_records": 4,
    "arguments": PYTHON_UDF_PAYLOAD,
}

SPRING_GOLDEN = b'\xff\x02\x03foo\x00\x00\x00\x05"bar"\x03baz\x00\x00\x00\x06"quxx"Hello'

USER_SCHEMA = parse_schema(
    {
        "type": "record",
        "name": "User",
        "namespace": "example.avro",
        "fields": [
            {"name": "name", "type": "string"},
            {"name": "favorite_number", "type": ["int", "null"]},
            {"name": "favorite_color", "type": ["string", "null"]},
        ],
    }
)

PERSON_SCHEMA = parse_schema(
    {
        "type": "record",
        "name": "person",
        "fields": [{"name": "my_message_key", "type": "string"}],
    }
)


class TestSpringHeaders:
    def test_golden_vector(self):
        headers, body = parse_spring_message(SPRING_GOLDEN)
        assert headers == {"foo": "bar", "baz": "quxx"}
        assert body == b"Hello"

    def test_no_magic_returns_untouched(self):
        headers, body = parse_spring_message(b"plain data")
        assert headers == {} and body == b"plain data"

    def test_build_parse_roundtrip(self):
        msg = build_spring_message({"contentType": "application/vnd.person.v1+avro"}, b"\x01\x02")
        headers, body = parse_spring_message(msg)
        assert headers == {"contentType": "application/vnd.person.v1+avro"}
        assert body == b"\x01\x02"

    def test_truncated_raises(self):
        with pytest.raises(ValueError):
            parse_spring_message(SPRING_GOLDEN[:10])


class TestSpringRegistry:
    def test_content_type_parse(self):
        assert parse_spring_content_type("application/vnd.person.v1+avro") == ("person", "v1", "avro")

    def test_url_mapping_golden(self):
        # reference test_get_registry_url (lambda_function.py:262-266)
        url = spring_registry_url("application/vnd.person.v1+avro", host="my-registry.example.com")
        assert url == (
            "https://my-registry.example.com/services/avro-schema-registry/person/avro/v1"
        )

    def test_fetch_memoized(self):
        calls = []

        def fake_fetch(url: str) -> str:
            calls.append(url)
            return json.dumps({"definition": json.dumps(PERSON_SCHEMA.to_json())})

        reg = SpringSchemaRegistry(host="h", fetch=fake_fetch)
        s1 = reg.get_schema("application/vnd.person.v1+avro")
        s2 = reg.get_schema("application/vnd.person.v1+avro")
        assert s1 is s2 and len(calls) == 1
        assert s1.fullname == "person"

    def test_bad_content_type(self):
        with pytest.raises(ValueError):
            parse_spring_content_type("application/json")

    def test_live_http_fetch_against_local_server(self):
        """Exercise the REAL urllib fetch path (no injected fake) against
        an in-process loopback HTTP server — closes the round-1 gap
        where only the parse/memoize layers ran."""
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        seen_paths: list[str] = []
        body = json.dumps({"definition": json.dumps(PERSON_SCHEMA.to_json())}).encode()

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 - http.server API
                seen_paths.append(self.path)
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):  # silence test output
                return

        srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()
        try:
            host = f"127.0.0.1:{srv.server_address[1]}"
            reg = SpringSchemaRegistry(
                host=host,
                url_format="http://{host}/services/avro-schema-registry/{schema}/{format}/{version}",
            )
            s1 = reg.get_schema("application/vnd.person.v1+avro")
            s2 = reg.get_schema("application/vnd.person.v1+avro")
        finally:
            srv.shutdown()
            srv.server_close()
        assert s1 is s2
        assert s1.fullname == "person"
        # one real HTTP round trip, correct reference-shaped path, memoized
        assert seen_paths == ["/services/avro-schema-registry/person/avro/v1"]


class TestKpl:
    def _fixture(self) -> tuple[bytes, list[bytes]]:
        """FIXTURES.md A4: KPL aggregate of Spring-headered Avro datums."""
        datum = encode_datum(PERSON_SCHEMA, {"my_message_key": "my_message_value"})
        sub = build_spring_message({"contentType": "application/vnd.person.v1+avro"}, datum)
        agg = KplAggregate(
            partition_key_table=["pk-a", "pk-b"],
            explicit_hash_key_table=["123"],
            records=[
                KplRecord(partition_key_index=0, data=sub, tags=[KplTag("t", "v")]),
                KplRecord(partition_key_index=1, explicit_hash_key_index=0, data=sub),
            ],
        )
        return encode_kpl_aggregate(agg), [sub, sub]

    def test_decode_roundtrip(self):
        blob, subs = self._fixture()
        agg = decode_kpl_aggregate(blob)
        assert agg.partition_key_table == ["pk-a", "pk-b"]
        assert [r.data for r in agg.records] == subs
        assert agg.records[0].tags[0].key == "t"
        assert agg.records[1].explicit_hash_key_index == 0
        assert kpl_sub_payloads(blob) == subs

    def test_three_envelope_unwrap(self):
        """hex → KPL → Spring headers → Avro datum (SURVEY §3.3)."""
        blob, _ = self._fixture()
        registry = InMemorySchemaRegistry({"application/vnd.person.v1+avro": PERSON_SCHEMA})
        handler = spring_kpl_handler(registry)
        resp = json.loads(handler({"arguments": [[blob.hex()]], "num_records": 1}, None))
        assert resp["success"] is True
        assert json.loads(resp["results"][0]) == [
            {"my_message_key": "my_message_value"},
            {"my_message_key": "my_message_value"},
        ]

    def test_spark_pipeline(self, spark):
        """The full DataFrame chain: unhex → explode(kpl) → headers → from_avro."""
        blob, _ = self._fixture()
        df = spark.createDataFrame([(blob.hex(),)], "payload string")
        person_json = json.dumps(PERSON_SCHEMA.to_json())
        out = (
            df.select(F.explode(explode_kpl(F.unhex("payload"))).alias("rec"))
            .select("rec.partition_key", extract_spring_headers("rec.data").alias("sh"))
            .select("partition_key", "sh.headers", from_avro("sh.body", person_json).alias("p"))
            .select("partition_key", F.col("headers")["contentType"].alias("ct"), "p.my_message_key")
            .collect()
        )
        assert len(out) == 2
        assert out[0].my_message_key == "my_message_value"
        assert out[0].ct == "application/vnd.person.v1+avro"
        assert {r.partition_key for r in out} == {"pk-a", "pk-b"}


class TestRedshiftProtocol:
    def test_container_file_handler_golden(self):
        event = AVRO_FILE_UDF_PAYLOAD
        resp = container_file_handler(event)
        assert resp["success"] is True and resp["num_records"] == 4
        assert json.loads(resp["results"][0]) == [
            {"name": "Alyssa", "favorite_number": 256, "favorite_color": None},
            {"name": "Ben", "favorite_number": 7, "favorite_color": "red"},
        ]

    def test_python_udf_payload_every_cell_decodes(self):
        """The reference's OWN test, replicated exactly
        (python-udf/test_python27.py: `for (i,) in json.load(f): assert
        decode(i)`): python-udf/payload.json is a BARE LIST of [hex]
        rows (not the avro-file-udf dict shape), and every cell must
        decode to the golden two-user record list."""
        from redshift_avro_spark.avroio.container import iter_container

        rows = PYTHON_UDF_PAYLOAD
        assert isinstance(rows, list) and rows, "fixture shape changed"
        golden = [
            {"name": "Alyssa", "favorite_number": 256, "favorite_color": None},
            {"name": "Ben", "favorite_number": 7, "favorite_color": "red"},
        ]
        for (hex_cell,) in rows:
            decoded = list(iter_container(bytes.fromhex(hex_cell)))
            assert decoded == golden

    def test_registry_datum_handler_golden(self):
        """The glue UDF round-trip test's exact golden string
        (glue-schema-per-stream-udf/lambda_function.py:84-95)."""
        datum = {"name": "Moiraine", "favorite_number": 4, "favorite_color": "Blue"}
        raw = encode_datum(USER_SCHEMA, datum)
        registry = InMemorySchemaRegistry({"my-stream": USER_SCHEMA})
        handler = registry_datum_handler(registry)
        resp = json.loads(handler({"arguments": [["my-stream", raw.hex()]], "num_records": 1}, None))
        assert resp["success"] is True
        assert resp["results"][0] == (
            '{"name": "Moiraine", "favorite_number": 4, "favorite_color": "Blue"}'
        )

    def test_failure_envelope(self):
        resp = container_file_handler({"arguments": [["zz-not-hex"]], "num_records": 1})
        assert resp["success"] is False and "error_msg" in resp


class TestEncodeKplSimple:
    def test_byte_identical_to_general_encoder(self):
        """encode_kpl_simple is a bulk fast path for the single-pk /
        index-0 / no-tags shape q24 synthesizes — must stay
        byte-identical to the general encoder."""
        datas = [b"", b"x", b"hello world" * 20, bytes(range(256)) * 5]
        general = encode_kpl_aggregate(
            KplAggregate(
                partition_key_table=["pk"],
                records=[KplRecord(partition_key_index=0, data=d) for d in datas],
            )
        )
        assert encode_kpl_simple("pk", datas) == general


def _spring(headers: list, body: bytes) -> bytes:
    """Spring message from raw (key bytes, value bytes) header pairs,
    which need not be valid UTF-8 or JSON."""
    out = bytearray([0xFF, len(headers)])
    for k, v in headers:
        out += bytes([len(k)]) + k + len(v).to_bytes(4, "big") + v
    return bytes(out) + body


def _user(i: int, name: str = "") -> bytes:
    return encode_datum(
        USER_SCHEMA,
        {"name": name or f"user{i}", "favorite_number": i, "favorite_color": None if i % 2 else "red"},
    )


_CT = [(b"contentType", b'"application/avro"')]


def _cell(datas: list) -> bytes:
    return encode_kpl_aggregate(
        KplAggregate(partition_key_table=["pk"], records=[KplRecord(data=d) for d in datas])
    )


def _plain(i: int) -> bytes:
    return _cell([_spring(_CT, _user(i)), _spring(_CT, _user(i + 1))])


# the block ends with 0x0A, the first byte of the next cell, so a body
# cut one byte short of it still starts with the whole block in the buffer
_NL = _spring([(b"n", b"1\n")], b"")

SCANNER_CASES = {
    "plain": [_plain(0), _plain(2)],
    "tags": [
        encode_kpl_aggregate(
            KplAggregate(
                partition_key_table=["pk"],
                # the tag's key bytes read like a ``data`` field if the tag is not skipped
                records=[KplRecord(data=_spring(_CT, _user(1)), tags=[KplTag("\x1a\x01Z")])],
            )
        )
    ],
    "explicit_hash_keys": [
        encode_kpl_aggregate(
            KplAggregate(
                partition_key_table=["pk-a", "pk-b"],
                explicit_hash_key_table=["123", "456"],
                records=[
                    KplRecord(partition_key_index=1, explicit_hash_key_index=1, data=_spring(_CT, _user(1))),
                    KplRecord(partition_key_index=0, explicit_hash_key_index=0, data=_user(2)),
                ],
            )
        )
    ],
    "two_byte_length_varint": [_cell([_spring(_CT, _user(5, "x" * 200)), _user(6, "y" * 300)])],
    "no_magic": [_cell([_user(1), _user(2)])],
    "magic_zero_headers": [_cell([_spring([], _user(1)), _spring([], _user(2))])],
    "distinct_header_blocks": [
        _cell([_spring([(b"k", f'"{i}"'.encode())], _user(i)) for i in range(5)])
    ],
    "record_without_data": [encode_kpl_aggregate(KplAggregate(["pk"])) + b"\x1a\x02\x08\x00"],
    "last_data_wins": [
        _len_field(1, b"pk")
        + _len_field(3, _len_field(3, b"\x00\x00") + _len_field(3, _user(9)) + _varint_field(1, 0))
    ],
    "truncated_cell": [_plain(0)[:-3]],
    "truncated_length_varint": [_plain(0) + b"\x1a\x85"],
    "truncated_header_block": [_cell([_spring(_CT, b"")[:-2]])],
    "header_cut_at_cell_end": [_cell([_NL + _user(1), _NL[:-1]]), _plain(0)],
    "non_json_header_value": [_cell([_spring(_CT, _user(1)), _spring([(b"k", b"{oops")], _user(2))])],
    "invalid_utf8_header_key": [_cell([_spring([(b"\xff\xfe", b'"v"')], _user(1))])],
    "invalid_utf8_partition_key": [b"\x0a\x02\xff\xfe" + _plain(0)],
    "unknown_aggregate_field": [_plain(0) + b"\x22\x01x"],
    "i64_wire_type": [_plain(0) + b"\x29" + bytes(8)],
    "multi_byte_tag": [_plain(0) + b"\x82\x01\x01x"],
    "not_avro_body": [_cell([_spring(_CT, b"\x07")])],
    "null_cells": [None, _plain(0), None, _plain(4), None],
    "mixed_scanned_and_exact": [
        _plain(0),
        encode_kpl_aggregate(
            KplAggregate(["pk"], records=[KplRecord(data=_user(7), tags=[KplTag("t")])])
        ),
        None,
        _plain(10),
        _cell([_user(20)]) + b"\x22\x00",
        _plain(30),
    ],
}


def _exact_unwrap(dec, cells: list):
    """The reference the fused path must equal: the exact KPL and Spring
    parsers, then one ``decode_spans`` over the bodies as an Arrow
    binary column."""
    import pyarrow as pa

    from redshift_avro_spark.avroio.ladder import arrow_spans

    bodies = [
        parse_spring_message(rec.data)[1]
        for cell in cells
        if cell is not None
        for rec in decode_kpl_aggregate(cell).records
    ]
    buf, starts, ends, _ = arrow_spans(pa.array(bodies, pa.binary()))
    return dec.decode_spans(buf, starts, ends)


def _outcome(fn):
    try:
        return "rows", fn()
    except Exception as exc:  # noqa: BLE001 — the exception IS the outcome
        return "error", (type(exc), str(exc))


class TestFusedUnwrapScanner:
    """The fused unwrap's span scanner against the exact parsers: the
    same rows, or the same exception type and message, on well-formed,
    unusual and malformed cells."""

    @pytest.mark.parametrize("case", list(SCANNER_CASES))
    def test_matches_exact_parsers(self, case):
        import pyarrow as pa

        from redshift_avro_spark.avroio.ladder import get_decoder
        from redshift_avro_spark.sources.envelopes import _unwrap_batch

        cells = SCANNER_CASES[case]
        dec = get_decoder(json.dumps(USER_SCHEMA.to_json()))
        want = _outcome(lambda: _exact_unwrap(dec, cells))
        got = _outcome(lambda: _unwrap_batch(dec, pa.array(cells, pa.binary())))
        assert got[0] == want[0], (got, want)
        if want[0] == "rows":
            assert got[1].equals(want[1])
            assert got[1].num_rows > 0
        else:
            assert got[1] == want[1]

    def test_sliced_batch(self):
        """A sliced cell column is read through its offset."""
        import pyarrow as pa

        from redshift_avro_spark.avroio.ladder import get_decoder
        from redshift_avro_spark.sources.envelopes import _unwrap_batch

        cells = SCANNER_CASES["mixed_scanned_and_exact"]
        dec = get_decoder(json.dumps(USER_SCHEMA.to_json()))
        got = _unwrap_batch(dec, pa.array(cells, pa.binary()).slice(1, 4))
        assert got.equals(_exact_unwrap(dec, cells[1:5]))

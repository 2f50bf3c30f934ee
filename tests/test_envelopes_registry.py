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

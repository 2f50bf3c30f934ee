"""Spark column codec tests: from_avro/to_avro/decode_container over a
real SparkSession (Arrow UDFs)."""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from redshift_avro_spark.avroio import parse_schema, write_container
from redshift_avro_spark.sources import (
    decode_container,
    decode_container_json,
    from_avro,
    from_hex,
    to_avro,
)
from redshift_avro_spark.sources.columns import from_avro_single_object

USER_SCHEMA_JSON = {
    "type": "record",
    "name": "User",
    "namespace": "example.avro",
    "fields": [
        {"name": "name", "type": "string"},
        {"name": "favorite_number", "type": ["int", "null"]},
        {"name": "favorite_color", "type": ["string", "null"]},
    ],
}


@pytest.fixture(scope="module")
def user_binary_df(spark):
    """DataFrame with a binary column of raw Avro datums."""
    from redshift_avro_spark.avroio import encode_datum

    schema = parse_schema(USER_SCHEMA_JSON)
    rows = [
        ("Alyssa", 256, None),
        ("Ben", 7, "red"),
        ("Moiraine", 4, "Blue"),
        ("Nobody", None, None),
    ]
    data = [
        (i, encode_datum(schema, {"name": n, "favorite_number": f, "favorite_color": c}))
        for i, (n, f, c) in enumerate(rows)
    ]
    return spark.createDataFrame(data, "id int, avro binary")


class TestFromAvro:
    def test_decode_struct(self, spark, user_binary_df):
        out = (
            user_binary_df.select("id", from_avro("avro", USER_SCHEMA_JSON).alias("u"))
            .select("id", "u.*")
            .orderBy("id")
            .collect()
        )
        assert [r.name for r in out] == ["Alyssa", "Ben", "Moiraine", "Nobody"]
        assert [r.favorite_number for r in out] == [256, 7, 4, None]
        assert out[1].favorite_color == "red"

    def test_hex_pipeline(self, spark, user_binary_df):
        """S1+S3: the Redshift shape — hex varchar in, struct out."""
        hexed = user_binary_df.select("id", F.lower(F.hex("avro")).alias("hexstr"))
        out = (
            hexed.select("id", from_avro(from_hex("hexstr"), USER_SCHEMA_JSON).alias("u"))
            .select("u.name")
            .orderBy("id")
            .collect()
        )
        assert out[0].name == "Alyssa"

    def test_reader_schema_evolution(self, spark, user_binary_df):
        reader = {
            "type": "record",
            "name": "User",
            "namespace": "example.avro",
            "fields": [
                {"name": "name", "type": "string"},
                {"name": "tier", "type": "string", "default": "free"},
            ],
        }
        out = (
            user_binary_df.select(from_avro("avro", USER_SCHEMA_JSON, reader_schema=reader).alias("u"))
            .select("u.*")
            .collect()
        )
        assert all(r.tier == "free" for r in out)
        assert {r.name for r in out} == {"Alyssa", "Ben", "Moiraine", "Nobody"}

    def test_permissive_mode(self, spark):
        df = spark.createDataFrame([(b"\x02",), (None,)], "avro binary")
        out = df.select(from_avro("avro", USER_SCHEMA_JSON, mode="PERMISSIVE").alias("u")).collect()
        assert all(r.u is None or r.u.name is None for r in out)


class TestToAvro:
    def test_roundtrip_via_spark(self, spark, user_binary_df):
        decoded = user_binary_df.select(
            "id", from_avro("avro", USER_SCHEMA_JSON).alias("u")
        )
        reencoded = decoded.select("id", to_avro("u", USER_SCHEMA_JSON).alias("avro2"))
        joined = (
            user_binary_df.alias("a")
            .join(reencoded.alias("b"), "id")
            .select("a.avro", "b.avro2")
            .collect()
        )
        for r in joined:
            assert bytes(r.avro) == bytes(r.avro2)

    def test_derived_schema(self, spark):
        df = spark.createDataFrame(
            [(1, "x", 2.5), (2, "y", None)], "a long, b string, c double"
        ).select(F.struct("a", "b", "c").alias("s"))
        enc = df.select(to_avro("s", df=df).alias("bin"))
        rows = enc.collect()
        assert all(isinstance(bytes(r.bin), bytes) and len(r.bin) > 0 for r in rows)

    def test_typed_roundtrip(self, spark):
        """date / timestamp / decimal / array / map, and timestamps
        inside an array, survive the trip."""
        schema = T.StructType(
            [
                T.StructField("d", T.DateType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("dec", T.DecimalType(10, 2)),
                T.StructField("arr", T.ArrayType(T.LongType())),
                T.StructField("m", T.MapType(T.StringType(), T.DoubleType())),
                T.StructField("tss", T.ArrayType(T.TimestampType())),
            ]
        )
        rows = [
            (
                dt.date(2024, 2, 29),
                dt.datetime(2024, 6, 1, 12, 30, 0, 250000),
                Decimal("12345.67"),
                [1, 2, 3],
                {"a": 1.5},
                [dt.datetime(2024, 6, 1, 12, 30, 0, 250000), None],
            )
        ]
        df = spark.createDataFrame(rows, schema).select(F.struct(*schema.names).alias("s"))
        avro_schema = {
            "type": "record",
            "name": "Typed",
            "fields": [
                {"name": "d", "type": {"type": "int", "logicalType": "date"}},
                {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
                {"name": "dec", "type": {"type": "bytes", "logicalType": "decimal", "precision": 10, "scale": 2}},
                {"name": "arr", "type": {"type": "array", "items": "long"}},
                {"name": "m", "type": {"type": "map", "values": "double"}},
                {
                    "name": "tss",
                    "type": {
                        "type": "array",
                        "items": ["null", {"type": "long", "logicalType": "timestamp-micros"}],
                    },
                },
            ],
        }
        enc = df.select(to_avro("s", avro_schema).alias("bin"))
        dec = enc.select(from_avro("bin", avro_schema).alias("s")).select("s.*").collect()[0]
        assert dec.d == dt.date(2024, 2, 29)
        assert dec.ts == dt.datetime(2024, 6, 1, 12, 30, 0, 250000)
        assert dec.dec == Decimal("12345.67")
        assert dec.arr == [1, 2, 3]
        assert dec.m == {"a": 1.5}
        assert dec.tss == [dt.datetime(2024, 6, 1, 12, 30, 0, 250000), None]


class TestContainerColumn:
    @pytest.fixture(scope="class")
    def container_df(self, spark):
        schema = parse_schema(USER_SCHEMA_JSON)
        cells = []
        for i in range(3):
            rows = [
                {"name": f"u{i}_{j}", "favorite_number": j, "favorite_color": None}
                for j in range(4)
            ]
            cells.append((i, write_container(rows, schema, sync_marker=bytes([i]) * 16)))
        return spark.createDataFrame(cells, "id int, cell binary")

    def test_decode_container_explode(self, spark, container_df):
        exploded = (
            container_df.select("id", F.explode(decode_container("cell", USER_SCHEMA_JSON)).alias("r"))
            .select("id", "r.*")
        )
        assert exploded.count() == 12
        got = exploded.where(F.col("id") == 1).select("name").orderBy("name").collect()
        assert [r.name for r in got] == ["u1_0", "u1_1", "u1_2", "u1_3"]

    def test_decode_container_infer(self, spark, container_df):
        out = container_df.select(
            F.explode(decode_container("cell", df=container_df)).alias("r")
        )
        assert out.count() == 12

    def test_decode_container_json_contract(self, spark, container_df):
        out = container_df.select("id", decode_container_json("cell").alias("js")).orderBy("id").collect()
        parsed = json.loads(out[0].js)
        assert parsed[0] == {"name": "u0_0", "favorite_number": 0, "favorite_color": None}

    def test_reference_golden_cell(self, spark):
        from tests.test_avroio_codec import GOLDEN_CONTAINER_HEX

        df = spark.createDataFrame([(GOLDEN_CONTAINER_HEX,)], "hexcell string")
        out = df.select(
            F.explode(decode_container(from_hex("hexcell"), USER_SCHEMA_JSON)).alias("r")
        ).select("r.*").collect()
        assert [(r.name, r.favorite_number, r.favorite_color) for r in out] == [
            ("Alyssa", 256, None),
            ("Ben", 7, "red"),
        ]


class TestKitchenSinkSparkPath:
    """enum / fixed / uuid / time-millis / time-micros / general union
    through the COLUMN codecs (the §1.2 rows not already covered by
    test_typed_roundtrip)."""

    SCHEMA = {
        "type": "record",
        "name": "Sink",
        "fields": [
            {"name": "color", "type": {"type": "enum", "name": "Color", "symbols": ["RED", "GREEN", "BLUE"]}},
            {"name": "mac", "type": {"type": "fixed", "name": "Mac", "size": 6}},
            {"name": "uid", "type": {"type": "string", "logicalType": "uuid"}},
            {"name": "t_ms", "type": {"type": "int", "logicalType": "time-millis"}},
            {"name": "t_us", "type": {"type": "long", "logicalType": "time-micros"}},
            {"name": "id_or_name", "type": ["long", "string"]},
        ],
    }

    def test_roundtrip(self, spark):
        from pyspark.sql import functions as F

        from redshift_avro_spark.sources.columns import from_avro, to_avro

        rows = [
            ("RED", bytearray(b"\x01\x02\x03\x04\x05\x06"), "f47ac10b-58cc-4372-a567-0e02b2c3d479", 1000, 2000, (7, None)),
            ("BLUE", bytearray(b"\xff\xee\xdd\xcc\xbb\xaa"), "00000000-0000-0000-0000-000000000000", 86399999, 86399999999, (None, "alice")),
        ]
        df = spark.createDataFrame(
            rows,
            "color string, mac binary, uid string, t_ms int, t_us long, "
            "id_or_name struct<member0: long, member1: string>",
        )
        enc = df.select(to_avro(F.struct(*df.columns), self.SCHEMA).alias("p"))
        dec = enc.select(from_avro("p", self.SCHEMA).alias("r")).select("r.*")
        got = sorted([tuple(r) for r in dec.collect()])
        want = sorted(
            [
                (c, bytes(m), u, tms, tus, (m0, m1))
                for c, m, u, tms, tus, (m0, m1) in [
                    (r[0], r[1], r[2], r[3], r[4], r[5]) for r in rows
                ]
            ]
        )
        assert [(g[0], bytes(g[1]), g[2], g[3], g[4], tuple(g[5])) for g in got] == want


class TestErrorChannelAndStreaming:
    SCHEMA = {
        "type": "record",
        "name": "Ev",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "event_type", "type": "string"},
        ],
    }

    def test_from_avro_with_errors(self, spark):
        from pyspark.sql import functions as F

        from redshift_avro_spark.avroio.binary import BinaryWriter, compile_encoder
        from redshift_avro_spark.avroio.schema_model import parse_schema
        import json as _json

        from redshift_avro_spark.sources.columns import from_avro_with_errors

        enc = compile_encoder(parse_schema(_json.dumps(self.SCHEMA)))
        good = []
        for i in range(3):
            w = BinaryWriter()
            enc(w, {"event_id": i, "event_type": "click"})
            good.append(w.getvalue())
        rows = [(bytearray(good[0]),), (bytearray(b"\xff\xff\xff\xff\xff"),), (bytearray(good[2]),), (None,)]
        df = spark.createDataFrame(rows, "p binary")
        out = df.select(from_avro_with_errors("p", self.SCHEMA).alias("r")).select(
            "r.record.*", "r._error"
        )
        got = out.collect()
        assert len(got) == 4
        oks = [r for r in got if r._error is None]
        bads = [r for r in got if r._error is not None]
        assert len(oks) == 2 and {r.event_id for r in oks} == {0, 2}
        assert len(bads) == 2  # poison bytes + null cell, whole batch survives

    def test_explode_containers_matches_decode_container(self, spark):
        import json as _json

        from pyspark.sql import functions as F

        from redshift_avro_spark.avroio.container import write_container
        from redshift_avro_spark.sources.columns import decode_container, explode_containers

        cells = []
        for b in range(4):
            rows = [{"event_id": b * 100 + i, "event_type": f"t{i % 3}"} for i in range(50)]
            cells.append((b, bytearray(write_container(rows, _json.dumps(self.SCHEMA)))))
        df = spark.createDataFrame(cells, "bucket int, cell binary")

        via_explode = (
            df.select("bucket", F.explode(decode_container("cell", self.SCHEMA)).alias("ev"))
            .select("bucket", "ev.*")
        )
        via_stream = explode_containers(df, "cell", self.SCHEMA, keep_cols=["bucket"])
        assert via_stream.count() == 200
        assert via_explode.exceptAll(via_stream).count() == 0
        assert via_stream.exceptAll(via_explode).count() == 0

    def test_explode_containers_reader_reorders_fields(self, spark):
        """Evolution read where the reader schema REORDERS the writer's
        fields (resolver emits dicts in writer order — columns must be
        filled by name, not position)."""
        import json as _json

        from redshift_avro_spark.avroio.container import write_container
        from redshift_avro_spark.sources.columns import explode_containers

        reader = {
            "type": "record",
            "name": "Ev",
            "fields": [
                {"name": "event_type", "type": "string"},
                {"name": "event_id", "type": "long"},
            ],
        }
        rows = [{"event_id": i, "event_type": f"t{i % 3}"} for i in range(20)]
        cell = bytearray(write_container(rows, _json.dumps(self.SCHEMA)))
        df = spark.createDataFrame([(cell,)], "cell binary")
        got = explode_containers(df, "cell", self.SCHEMA, reader_schema=reader).collect()
        assert len(got) == 20
        assert sorted((r.event_id, r.event_type) for r in got) == [
            (i, f"t{i % 3}") for i in range(20)
        ]


class TestMultimodalPlumbing:
    def test_resize_and_frame_sample(self, spark):
        from pyspark.sql import functions as F

        from redshift_avro_spark.operators.multimodal import resize_images, sample_frames

        df = spark.createDataFrame(
            [(i, bytearray(bytes(range(256)) * 2)) for i in range(10)], "doc_id long, payload binary"
        )
        resized = resize_images(df, width=64, height=64).collect()
        assert len(resized) == 10
        assert all(r.out_width == 64 and len(r.resized) > 0 for r in resized)

        frames = sample_frames(df, every_n_bytes=64, max_frames=4)
        got = frames.groupBy("doc_id").count().collect()
        assert all(r["count"] == 4 for r in got)
        one = frames.where("doc_id = 0 AND frame_index = 1").collect()[0]
        assert bytes(one.frame) == bytes(range(64, 128))

    def test_kafka_shaped_decode_chain(self, spark):
        """The production stream shape: (key, value binary, topic,
        timestamp) — the reference's hex hop S1 disappears because
        Kafka's value is already binary (SURVEY §2.1 S8)."""
        import json as _json

        from pyspark.sql import functions as F

        from redshift_avro_spark.avroio.binary import encode_datum
        from redshift_avro_spark.avroio.schema_model import parse_schema
        from redshift_avro_spark.sources.columns import from_avro

        SCHEMA = {"type": "record", "name": "E", "fields": [
            {"name": "event_id", "type": "long"}, {"name": "event_type", "type": "string"}]}
        s = parse_schema(_json.dumps(SCHEMA))
        rows = [
            (str(i).encode(), bytearray(encode_datum(s, {"event_id": i, "event_type": "t"})), "events", i)
            for i in range(20)
        ]
        kafka_shaped = spark.createDataFrame(
            rows, "key binary, value binary, topic string, offset long"
        )
        out = kafka_shaped.select(
            "topic", "offset", from_avro("value", SCHEMA).alias("ev")
        ).select("topic", "offset", "ev.*")
        got = out.orderBy("offset").collect()
        assert len(got) == 20 and got[5].event_id == 5 and got[0].topic == "events"


NAN_SCHEMAS = {
    # flat records take the vector tier, an array field the generated tier
    "flat": {"type": "record", "name": "N", "fields": [{"name": "d", "type": "double"}]},
    "nested": {
        "type": "record",
        "name": "N",
        "fields": [
            {"name": "d", "type": "double"},
            {"name": "xs", "type": {"type": "array", "items": "long"}},
        ],
    },
}
NAN_SITES = [
    "read_avro",
    "from_avro",
    "from_avro_with_errors",
    "from_avro_single_object",
    "decode_container",
    "unwrap_kpl_spring_avro",
]
TS_SCHEMA = {
    "type": "record",
    "name": "T",
    "fields": [{"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}}],
}


def _nan_column(spark, site: str, schema: dict, datum: dict, tmp_path):
    """One datum through ``site`` → a one-row frame of its ``d``."""
    import struct as _struct

    from redshift_avro_spark.avroio import encode_datum
    from redshift_avro_spark.avroio.schema_model import fingerprint64
    from redshift_avro_spark.sources import envelopes
    from redshift_avro_spark.sources.columns import (
        from_avro_single_object,
        from_avro_with_errors,
    )

    parsed = parse_schema(schema)
    blob = encode_datum(parsed, datum)
    if site == "read_avro":
        from redshift_avro_spark.sources import read_avro

        d = tmp_path / "nan_site"
        d.mkdir()
        (d / "nan.avro").write_bytes(write_container([datum], parsed))
        return read_avro(spark, str(d)).select("d")
    if site == "unwrap_kpl_spring_avro":
        agg = envelopes.encode_kpl_aggregate(
            envelopes.KplAggregate(
                partition_key_table=["k"],
                records=[envelopes.KplRecord(partition_key_index=0, data=blob)],
            )
        )
        df = spark.createDataFrame([(bytearray(agg),)], "c binary")
        return envelopes.unwrap_kpl_spring_avro(df, "c", schema).select("d")
    if site == "decode_container":
        df = spark.createDataFrame([(bytearray(write_container([datum], parsed)),)], "c binary")
        return df.select(F.explode(decode_container("c", schema)).alias("r")).select("r.d")
    if site == "from_avro_single_object":
        framed = b"\xc3\x01" + _struct.pack("<Q", fingerprint64(parsed)) + blob
        df = spark.createDataFrame([(bytearray(framed),)], "p binary")
        return df.select(from_avro_single_object("p", [schema]).alias("r")).select("r.d")
    df = spark.createDataFrame([(bytearray(blob),)], "p binary")
    if site == "from_avro_with_errors":
        return df.select(from_avro_with_errors("p", schema).alias("r")).select("r.record.d")
    return df.select(from_avro("p", schema).alias("r")).select("r.d")


class TestArrowBoundary:
    """The codec column functions hand Spark Arrow: no pandas hop turns
    a NaN into NULL, shifts a timestamp by the session time zone, or
    fails on a NULL cell."""

    @pytest.mark.parametrize("shape", list(NAN_SCHEMAS))
    @pytest.mark.parametrize("site", NAN_SITES)
    def test_double_nan_stays_nan(self, spark, tmp_path, site, shape):
        from redshift_avro_spark.sources import read_avro

        schema = NAN_SCHEMAS[shape]
        datum = {"d": float("nan"), "xs": [1, 2]}
        with open(tmp_path / "nan.avro", "wb") as fh:
            fh.write(write_container([datum], parse_schema(schema)))
        want = [repr(r.d) for r in read_avro(spark, str(tmp_path)).select("d").collect()]
        got = [repr(r.d) for r in _nan_column(spark, site, schema, datum, tmp_path).collect()]
        assert got == want == ["nan"]

    def test_timestamps_ignore_session_time_zone(self, spark, tmp_path):
        from redshift_avro_spark.avroio import encode_datum
        from redshift_avro_spark.sources import read_avro
        from redshift_avro_spark.sources.columns import from_avro_with_errors

        parsed = parse_schema(TS_SCHEMA)
        (tmp_path / "ts.avro").write_bytes(write_container([{"ts": 0}], parsed))
        blob = bytearray(encode_datum(parsed, {"ts": 0}))
        cell = bytearray(write_container([{"ts": 0}], parsed))
        old_tz = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        try:
            blobs = spark.createDataFrame([(blob,)], "p binary")
            got = blobs.select(F.unix_micros(from_avro("p", TS_SCHEMA).ts).alias("us")).collect()
            assert [r.us for r in got] == [0]
            got = blobs.select(
                F.unix_micros(from_avro_with_errors("p", TS_SCHEMA).record.ts).alias("us")
            ).collect()
            assert [r.us for r in got] == [0]
            got = read_avro(spark, str(tmp_path)).select(F.unix_micros("ts").alias("us")).collect()
            assert [r.us for r in got] == [0]
            cells = spark.createDataFrame([(cell,)], "c binary")
            got = (
                cells.select(F.explode(decode_container("c", TS_SCHEMA)).alias("r"))
                .select(F.unix_micros("r.ts").alias("us"))
                .collect()
            )
            assert [r.us for r in got] == [0]
            structs = spark.sql("SELECT named_struct('ts', timestamp_micros(0)) AS s")
            got = structs.select(F.hex(to_avro("s", TS_SCHEMA)).alias("h")).collect()
            assert [r.h for r in got] == ["00"]
        finally:
            spark.conf.set("spark.sql.session.timeZone", old_tz)

    @pytest.mark.parametrize(
        "second, mode", [(None, "FAILFAST"), (bytearray(b"junk"), "PERMISSIVE")]
    )
    def test_decode_container_null_cell_is_null_list(self, spark, second, mode):
        parsed = parse_schema(USER_SCHEMA_JSON)
        rows = [{"name": "Alyssa", "favorite_number": 256, "favorite_color": None}]
        cell = bytearray(write_container(rows, parsed))
        df = spark.createDataFrame([(0, cell), (1, second)], "id int, c binary")
        got = (
            df.select("id", decode_container("c", USER_SCHEMA_JSON, mode=mode).alias("l"))
            .orderBy("id")
            .collect()
        )
        assert [r.l is None for r in got] == [False, True]
        assert [(u.name, u.favorite_number, u.favorite_color) for u in got[0].l] == [
            ("Alyssa", 256, None)
        ]

    @pytest.mark.parametrize("shape", ["flat", "nested"])
    @pytest.mark.parametrize("site", ["to_avro", "ContainerWriter.append_arrow", "write_avro"])
    def test_null_double_is_the_null_branch(self, spark, tmp_path, site, shape):
        """A NULL in a ``["null", "double"]`` field encodes as the null
        branch and a NaN as the double NaN, exactly as ``encode_datum``
        writes them, on the vector (flat) and generated (nested) tiers."""
        import io

        import pyarrow as pa

        from redshift_avro_spark.avroio import encode_datum
        from redshift_avro_spark.avroio.container import (
            ContainerWriter,
            iter_raw_blocks,
            read_header,
        )
        from redshift_avro_spark.sources import write_avro

        fields = [{"name": "d", "type": ["null", "double"]}]
        if shape == "nested":
            fields.append({"name": "xs", "type": {"type": "array", "items": "long"}})
        schema = {"type": "record", "name": "topLevelRecord", "fields": fields}
        rows = [(None, [1]), (float("nan"), []), (1.5, [2, 3])]
        cols = [f["name"] for f in fields]
        parsed = parse_schema(schema)
        want = [encode_datum(parsed, dict(zip(cols, r))) for r in rows]
        d_hex = ["00", "02000000000000f87f", "02000000000000f83f"]  # NULL, NaN, 1.5
        assert all(w.hex().startswith(d) for w, d in zip(want, d_hex))
        if site == "to_avro":
            df = spark.createDataFrame(
                [(i, *r) for i, r in enumerate(rows)], "i int, d double, xs array<long>"
            )
            got = df.select("i", to_avro(F.struct(*cols), schema).alias("b")).orderBy("i")
            assert [bytes(r.b) for r in got.collect()] == want
            return
        if site == "ContainerWriter.append_arrow":
            batch = pa.RecordBatch.from_pydict(
                {
                    "d": pa.array([r[0] for r in rows], pa.float64()),
                    "xs": pa.array([r[1] for r in rows], pa.list_(pa.int64())),
                }
            ).select(cols)
            buf = io.BytesIO()
            with ContainerWriter(buf, schema) as w:
                w.append_arrow(batch)
            container = buf.getvalue()
        else:
            df = spark.createDataFrame(rows, "d double, xs array<long>").select(*cols)
            out = tmp_path / "out"
            write_avro(df.coalesce(1), str(out), compression="null", avro_schema=schema)
            (part,) = [f for f in out.iterdir() if f.suffix == ".avro"]
            container = part.read_bytes()
        header = read_header(container)
        payload = b"".join(p for _, p in iter_raw_blocks(container, header.header_len, header.sync))
        assert payload == b"".join(want)

    def test_to_avro_null_long_beside_array(self, spark):
        """An array field makes the vector encoder decline; a NULL in the
        nullable long must still encode as the null branch."""
        from redshift_avro_spark.avroio import encode_datum

        schema = {
            "type": "record",
            "name": "topLevelRecord",
            "fields": [
                {"name": "d", "type": "double"},
                {"name": "xs", "type": {"type": "array", "items": "long"}},
                {"name": "n", "type": ["null", "long"]},
            ],
        }
        rows = [(1.5, [1, 2], 7), (2.5, [3], None)]
        df = spark.createDataFrame(rows, "d double, xs array<long>, n long")
        encoded = to_avro(F.struct("d", "xs", "n"), schema).alias("b")
        got = df.select(F.monotonically_increasing_id().alias("i"), encoded).orderBy("i").collect()
        parsed = parse_schema(schema)
        want = [encode_datum(parsed, {"d": d, "xs": xs, "n": n}) for d, xs, n in rows]
        assert [bytes(r.b) for r in got] == want


MODE_SITES = {
    "from_avro": lambda mode: from_avro("p", USER_SCHEMA_JSON, mode=mode),
    "from_avro_single_object": lambda mode: from_avro_single_object(
        "p", [USER_SCHEMA_JSON], mode=mode
    ),
    "decode_container": lambda mode: decode_container("p", USER_SCHEMA_JSON, mode=mode),
    "decode_container_json": lambda mode: decode_container_json("p", mode=mode),
}


@pytest.mark.parametrize("site", list(MODE_SITES))
def test_unknown_decode_mode_is_rejected(spark, site):
    """A mode other than FAILFAST or PERMISSIVE fails when the column is
    built, instead of silently running FAILFAST; either mode is taken in
    any letter case."""
    build = MODE_SITES[site]
    for typo in ("PERMISIVE", "DROPMALFORMED"):
        with pytest.raises(ValueError, match="FAILFAST or PERMISSIVE"):
            build(typo)
    for mode in ("permissive", "FailFast"):
        assert build(mode) is not None


WITH_ERRORS_SCHEMAS = {
    # vector tier, generated tier, generated resolver
    "flat": (
        {"type": "record", "name": "E", "fields": [
            {"name": "id", "type": "long"},
            {"name": "d", "type": "double"},
            {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
            {"name": "s", "type": ["null", "string"]},
        ]},
        None,
    ),
    "nested": (
        {"type": "record", "name": "E", "fields": [
            {"name": "id", "type": "long"},
            {"name": "d", "type": "double"},
            {"name": "xs", "type": {"type": "array", "items": "double"}},
            {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-millis"}},
        ]},
        None,
    ),
    "evolved": (
        {"type": "record", "name": "E", "fields": [
            {"name": "id", "type": "int"},
            {"name": "d", "type": "double"},
        ]},
        {"type": "record", "name": "E", "fields": [
            {"name": "d", "type": "double"},
            {"name": "id", "type": "long"},
            {"name": "tag", "type": "string", "default": "t"},
        ]},
    ),
}


def _with_errors_cells(shape: str, case: str) -> list:
    import datetime as _dt

    from redshift_avro_spark.avroio import encode_datum

    writer = parse_schema(WITH_ERRORS_SCHEMAS[shape][0])
    names = {f.name for f in writer.fields}

    def datum(i, d=None):
        row = {"id": i, "d": i / 4 if d is None else d, "s": None if i % 2 else f"s{i}", "xs": [i / 2] * (i % 3)}
        row["ts"] = _dt.datetime(1969, 12, 31, 23, 0) + _dt.timedelta(hours=i)
        return encode_datum(writer, {k: v for k, v in row.items() if k in names})

    cells = [datum(i) for i in range(6)]
    if case == "null":
        cells[2] = None
    elif case == "poisoned":
        cells[1] = b"\xff\xff\xff\xff\xff\xff\xff\xff\xff\xff\xff"
        cells[4] = cells[4][:-1]
    elif case == "nan":
        cells = [datum(i, float("nan") if i % 2 else float("-inf")) for i in range(6)]
    return cells


@pytest.mark.parametrize("case", ["clean", "null", "poisoned", "nan"])
@pytest.mark.parametrize("shape", list(WITH_ERRORS_SCHEMAS))
def test_with_errors_batch_matches_the_row_loop(shape, case):
    """``from_avro_with_errors``' per-batch body decodes through the
    ladder and gives what the per-row closure loop gives: the same
    records, the same NULL-cell and exception texts."""
    from pyspark.sql.pandas.types import to_arrow_type

    from redshift_avro_spark.avroio.binary import BinaryReader, compile_decoder, compile_resolver
    from redshift_avro_spark.avroio.convert import avro_to_spark_type, nullable_struct
    from redshift_avro_spark.avroio.ladder import get_decoder
    from redshift_avro_spark.sources.columns import _with_errors_batch

    writer, reader = WITH_ERRORS_SCHEMAS[shape]
    wj = json.dumps(parse_schema(writer).to_json())
    rj = json.dumps(parse_schema(reader).to_json()) if reader else None
    wrapped = T.StructType([
        T.StructField("record", nullable_struct(avro_to_spark_type(reader or writer)), True),
        T.StructField("_error", T.StringType(), True),
    ])
    fields = list(to_arrow_type(wrapped))
    arr = pa.array(_with_errors_cells(shape, case), type=pa.binary())
    got = _with_errors_batch(get_decoder(wj, rj), wj, rj, arr.slice(1), fields)
    fn = (
        compile_resolver(parse_schema(writer), parse_schema(reader), mode="spark")
        if reader
        else compile_decoder(parse_schema(writer), mode="spark")
    )
    recs, errs = [], []
    for blob in arr.slice(1).to_pylist():
        try:
            recs.append(None if blob is None else fn(BinaryReader(blob)))
            errs.append("null input cell" if blob is None else None)
        except Exception as ex:  # noqa: BLE001
            recs.append(None)
            errs.append(f"{type(ex).__name__}: {ex}")
    want = pa.StructArray.from_arrays(
        [pa.array(recs, type=fields[0].type, from_pandas=False), pa.array(errs, type=pa.string())],
        fields=fields,
    )
    assert got.type == want.type
    assert repr(got.to_pylist()) == repr(want.to_pylist())
    assert (got.field(1).null_count == len(got)) == (case in ("clean", "nan"))

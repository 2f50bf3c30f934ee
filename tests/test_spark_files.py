"""Avro file DataSource tests: spark.read/write.format("avro") via the
Python DataSource (splittable reads, arrow batches, codecs, evolution)."""

from __future__ import annotations

import datetime as dt
import json
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from redshift_avro_spark.avroio import ContainerReader, ContainerWriter, parse_schema, write_container
from redshift_avro_spark.avroio.container import iter_file_split
from redshift_avro_spark.sources import read_avro, write_avro
from redshift_avro_spark.sources.files import _plan_splits, register_avro_datasource

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


@pytest.fixture(scope="module")
def avro_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("avrodata")
    for fi in range(3):
        rows = [
            {"name": f"f{fi}_r{i}", "favorite_number": i, "favorite_color": None}
            for i in range(2000)
        ]
        blob = write_container(rows, USER_SCHEMA, codec="deflate", sync_interval=2048)
        (d / f"part-{fi}.avro").write_bytes(blob)
    return str(d)


class TestRead:
    def test_read_all(self, spark, avro_dir):
        df = read_avro(spark, avro_dir)
        assert df.count() == 6000
        assert set(df.columns) == {"name", "favorite_number", "favorite_color"}

    def test_split_reads_exactly_once(self, spark, avro_dir):
        # tiny split size → many partitions per file; still exactly-once
        df = read_avro(spark, avro_dir, split_size=4096)
        assert df.rdd.getNumPartitions() > 3
        assert df.count() == 6000
        assert df.select("name").distinct().count() == 6000

    def test_filter_and_agg(self, spark, avro_dir):
        df = read_avro(spark, avro_dir)
        out = (
            df.where(F.col("favorite_number") < 10)
            .groupBy("favorite_number")
            .agg(F.count("*").alias("n"))
            .orderBy("favorite_number")
            .collect()
        )
        assert len(out) == 10 and all(r.n == 3 for r in out)

    def test_general_union_through_read_avro(self, spark, tmp_path):
        """read_avro always goes through the resolver (files.py target_json);
        general unions must surface as member0..N structs there too, matching
        the plain-decoder representation (ADVICE r1: resolver returned bare
        branch values and broke Arrow against the declared struct type)."""
        sch = {
            "type": "record",
            "name": "U",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "u", "type": ["long", "string", "null"]},
            ],
        }
        rows = [{"id": 0, "u": 7}, {"id": 1, "u": "alice"}, {"id": 2, "u": None}]
        d = tmp_path / "union_avro"
        d.mkdir()
        (d / "part-0.avro").write_bytes(write_container(rows, sch))

        df = read_avro(spark, str(d))
        got = {r.id: (None if r.u is None else (r.u.member0, r.u.member1)) for r in df.collect()}
        assert got == {0: (7, None), 1: (None, "alice"), 2: None}

        # same data through decode_container with an explicit reader schema
        from redshift_avro_spark.sources.columns import decode_container

        cell_df = spark.createDataFrame([(bytearray((d / "part-0.avro").read_bytes()),)], "cell binary")
        out = (
            cell_df.select(F.explode(decode_container("cell", sch, reader_schema=sch)).alias("r"))
            .select("r.*")
            .collect()
        )
        got2 = {r.id: (None if r.u is None else (r.u.member0, r.u.member1)) for r in out}
        assert got2 == got

    def test_reader_schema_evolution(self, spark, avro_dir):
        reader = {
            "type": "record",
            "name": "User",
            "namespace": "example.avro",
            "fields": [
                {"name": "name", "type": "string"},
                {"name": "favorite_number", "type": ["null", "long"]},
                {"name": "tier", "type": "string", "default": "free"},
            ],
        }
        df = read_avro(spark, avro_dir, reader_schema=reader)
        row = df.orderBy("name").first()
        assert row.tier == "free"
        assert df.schema["favorite_number"].dataType.typeName() == "long"


ORDER = {
    "type": "record",
    "name": "Order",
    "fields": [
        {"name": "id", "type": "long"},
        {
            "name": "customer",
            "type": [
                "null",
                {"type": "record", "name": "Customer", "fields": [
                    {"name": "name", "type": "string"},
                    {"name": "email", "type": ["null", "string"]},
                ]},
            ],
        },
        {
            "name": "items",
            "type": {"type": "array", "items": {"type": "record", "name": "Item", "fields": [
                {"name": "sku", "type": "string"},
                {"name": "qty", "type": "int"},
            ]}},
        },
        {"name": "tags", "type": {"type": "map", "values": "long"}},
    ],
}
ORDER_EVOLVED = {
    **ORDER,
    "fields": [f for f in ORDER["fields"] if f["name"] != "tags"]
    + [{"name": "channel", "type": "string", "default": "web"}],
}


@pytest.fixture(scope="module")
def nested_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("nested_avro")
    for fi in range(2):
        rows = [
            {
                "id": fi * 10_000 + i,
                "customer": None if i % 5 == 0 else {"name": f"c{i}", "email": None if i % 2 else f"c{i}@x"},
                "items": [{"sku": f"s{i}.{j}", "qty": j} for j in range(i % 4)],
                "tags": {f"t{j}": i * j for j in range(i % 3)},
            }
            for i in range(1500)
        ]
        blob = write_container(rows, ORDER, codec="deflate", sync_interval=2048)
        (d / f"part-{fi}.avro").write_bytes(blob)
    return str(d)


class TestReadDispatch:
    """``read_avro`` plans splits on the driver and decodes them in one
    ``mapInArrow`` stage; ``spark.read.format("avro_py")`` reads the same
    files through the Python DataSource. Both give the same frame."""

    @pytest.mark.parametrize("case", ["multi_split", "evolved", "nested", "nested_evolved"])
    def test_read_avro_matches_the_data_source(self, spark, avro_dir, nested_dir, case):
        reader = {
            "evolved": {
                "type": "record",
                "name": "User",
                "namespace": "example.avro",
                "fields": [
                    {"name": "favorite_number", "type": ["null", "long"]},
                    {"name": "name", "type": "string"},
                    {"name": "tier", "type": "string", "default": "free"},
                ],
            },
            "nested_evolved": ORDER_EVOLVED,
        }.get(case)
        path = nested_dir if case.startswith("nested") else avro_dir
        split = 4096 if case == "multi_split" else 1 << 20
        got = read_avro(spark, path, reader_schema=reader, split_size=split)
        register_avro_datasource(spark)
        fmt = spark.read.format("avro_py").option("splitSize", str(split))
        if reader is not None:
            fmt = fmt.option("avroSchema", json.dumps(reader))
        want = fmt.load(path)
        assert got.schema == want.schema
        assert got.rdd.getNumPartitions() == want.rdd.getNumPartitions()
        rows = sorted(repr(r) for r in got.collect())
        assert rows == sorted(repr(r) for r in want.collect())
        assert len(rows) == (3000 if case.startswith("nested") else 6000)

    def test_read_avro_plan_is_map_in_arrow_over_range(self, spark, avro_dir):
        plan = read_avro(spark, avro_dir)._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan and "Range" in plan
        register_avro_datasource(spark)
        scan = spark.read.format("avro_py").load(avro_dir)._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" not in scan
        # the DataSource's scan node names the source; read_avro's plan has none
        assert "avro_py" in scan.lower() and "avro_py" not in plan.lower()

    def test_split_table_holds_each_writer_schema_once(self, avro_dir):
        import pickle

        splits = _plan_splits(sorted(os.path.join(avro_dir, f) for f in os.listdir(avro_dir)), 4096)
        assert len(splits) > 3
        writer_json = splits[0].schema_json
        assert all(s.schema_json is writer_json for s in splits)
        assert pickle.dumps(splits).count(writer_json.encode("utf-8")) == 1

    def test_header_over_64_kib(self, spark, tmp_path):
        d = tmp_path / "big_header"
        d.mkdir()
        path = d / "part-0.avro"
        rows = [{"name": f"u{i}", "favorite_number": i, "favorite_color": None} for i in range(3)]
        with open(path, "wb") as fh, ContainerWriter(
            fh, USER_SCHEMA, extra_meta={"app.lineage": b"y" * 100_000}
        ) as w:
            for r in rows:
                w.append(r)
        with open(path, "rb") as fh:
            assert list(ContainerReader(fh)) == rows
        assert list(iter_file_split(str(path), 0, path.stat().st_size)) == rows
        names = [f"u{i}" for i in range(3)]
        assert sorted(r.name for r in read_avro(spark, str(d)).collect()) == names
        register_avro_datasource(spark)
        got = spark.read.format("avro_py").load(str(d)).collect()
        assert sorted(r.name for r in got) == names


class TestWrite:
    def test_write_read_roundtrip(self, spark, tmp_path):
        src = spark.range(1000).select(
            F.col("id"),
            F.concat(F.lit("u"), F.col("id")).alias("name"),
            (F.col("id") % 7 == 0).alias("lucky"),
            (F.col("id") * 1.5).alias("score"),
        )
        out = str(tmp_path / "out_avro")
        write_avro(src, out, compression="deflate")
        assert os.path.exists(os.path.join(out, "_SUCCESS"))
        back = read_avro(spark, out)
        assert back.count() == 1000
        assert back.where("lucky").count() == src.where("lucky").count()
        a = {r.id: (r.name, r.lucky, r.score) for r in back.collect()}
        b = {r.id: (r.name, r.lucky, r.score) for r in src.collect()}
        assert a == b

    def test_typed_write(self, spark, tmp_path):
        rows = [
            (dt.date(2024, 1, 1), dt.datetime(2024, 1, 1, 10, 0, 0), Decimal("5.25"), [1, 2], {"k": 3.5}),
        ]
        src = spark.createDataFrame(
            rows, "d date, ts timestamp, dec decimal(10,2), arr array<bigint>, m map<string,double>"
        )
        out = str(tmp_path / "typed_avro")
        write_avro(src, out)
        back = read_avro(spark, out).collect()[0]
        assert back.d == dt.date(2024, 1, 1)
        assert back.ts == dt.datetime(2024, 1, 1, 10, 0, 0)
        assert back.dec == Decimal("5.25")
        assert back.arr == [1, 2]
        assert back.m == {"k": 3.5}

    def test_timestamps_ignore_session_time_zone(self, spark, tmp_path):
        """The Arrow sink writes the UTC instant Spark holds: under a
        non-UTC session time zone an epoch-0 timestamp still lands as
        micros 0 in the file and reads back as the same instant."""
        from redshift_avro_spark.avroio import iter_container

        old_tz = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        try:
            src = spark.sql("SELECT 1L AS id, timestamp_micros(0) AS ts")
            out = str(tmp_path / "tz_avro")
            write_avro(src, out)
            back = read_avro(spark, out).select(F.unix_micros("ts").alias("us")).collect()
        finally:
            spark.conf.set("spark.sql.session.timeZone", old_tz)
        assert [r.us for r in back] == [0]
        records = []
        for f in sorted(os.listdir(out)):
            if f.endswith(".avro"):
                with open(os.path.join(out, f), "rb") as fh:
                    records.extend(iter_container(fh.read()))
        assert [r["ts"] for r in records] == [dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)]

    def test_overwrite_mode(self, spark, tmp_path):
        out = str(tmp_path / "ow_avro")
        write_avro(spark.range(10).select(F.col("id")), out)
        write_avro(spark.range(5).select(F.col("id")), out, mode="overwrite")
        assert read_avro(spark, out).count() == 5

    def test_written_files_are_standard_containers(self, spark, tmp_path):
        """Files must be readable by ANY spec-compliant Avro reader —
        verified via our independent pure-python reader."""
        from redshift_avro_spark.avroio import iter_container

        out = str(tmp_path / "std_avro")
        write_avro(spark.range(100).select(F.col("id")), out)
        files = [f for f in os.listdir(out) if f.endswith(".avro")]
        total = 0
        for f in files:
            with open(os.path.join(out, f), "rb") as fh:
                total += sum(1 for _ in iter_container(fh.read()))
        assert total == 100

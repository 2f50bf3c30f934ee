"""The Avro landing-zone streaming connector (Python DataSource API).

End-to-end through Spark's streaming engine: offsets land in the
checkpoint log, partitions plan one-per-file, executors decode through
the same split machinery as the batch reader, and a RESTART from the
checkpoint resumes exactly after the consumed prefix — the
exactly-once property the reference's 'streaming ingest TBD' section
(README.md:54-58) never implemented.
"""

from __future__ import annotations

import os
import time
import uuid

import pytest

from redshift_avro_spark.avroio.container import write_container
from redshift_avro_spark.avroio.schema_model import parse_schema
from redshift_avro_spark.sources.files import register_avro_datasource

SCHEMA = parse_schema(
    {
        "type": "record",
        "name": "Tick",
        "fields": [
            {"name": "tick_id", "type": "long"},
            {"name": "label", "type": "string"},
        ],
    }
)


def _land(dir_path: str, file_no: int, ids) -> None:
    """Atomically land one container file (temp + rename), with mtime
    stamped so listing order is deterministic."""
    rows = [{"tick_id": i, "label": f"t{i}"} for i in ids]
    tmp = os.path.join(dir_path, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "wb") as fh:
        fh.write(write_container(rows, SCHEMA))
    final = os.path.join(dir_path, f"chunk-{file_no:04d}.avro")
    os.rename(tmp, final)
    mt = time.time() - 3600 + file_no * 10
    os.utime(final, (mt, mt))


def _drain(spark, feed, ckpt, sink_name):
    q = (
        spark.readStream.format("avro_py")
        .option("path", feed)
        .load()
        .writeStream.format("memory")
        .queryName(sink_name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    return spark.sql(f"SELECT * FROM {sink_name}")


def test_stream_reads_files_and_resumes_from_checkpoint(spark, tmp_path):
    register_avro_datasource(spark)
    feed = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(feed)
    _land(feed, 0, range(0, 50))
    _land(feed, 1, range(50, 80))

    def run_once():
        q = (
            spark.readStream.format("avro_py")
            .option("path", feed)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)

    run_once()
    assert sorted(r.tick_id for r in spark.read.parquet(out).collect()) == list(range(80))

    # land more files, RESTART from the same checkpoint: exactly the
    # new files replay (offset log resumes at n=2 — no duplicates of
    # the first 80 rows, no gaps)
    _land(feed, 2, range(80, 95))
    _land(feed, 3, range(95, 100))
    run_once()
    assert sorted(r.tick_id for r in spark.read.parquet(out).collect()) == list(range(100))


def test_stream_matches_batch_read(spark, tmp_path):
    register_avro_datasource(spark)
    feed = str(tmp_path / "landing2")
    os.makedirs(feed)
    for i in range(4):
        _land(feed, i, range(i * 10, i * 10 + 10))
    name = f"ticks_{uuid.uuid4().hex[:8]}"
    got = _drain(spark, feed, str(tmp_path / "ckpt2"), name)
    batch = spark.read.format("avro_py").load(feed)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_reads_header_over_64_kib(spark, tmp_path):
    """A landed file whose header (metadata map) is larger than the
    first 64 KiB of the file still plans and decodes."""
    from redshift_avro_spark.avroio.container import ContainerWriter

    register_avro_datasource(spark)
    feed = str(tmp_path / "landing_big_header")
    os.makedirs(feed)
    with open(os.path.join(feed, "chunk-0000.avro"), "wb") as fh, ContainerWriter(
        fh, SCHEMA, extra_meta={"app.lineage": b"y" * 100_000}
    ) as w:
        for i in range(3):
            w.append({"tick_id": i, "label": f"t{i}"})
    got = _drain(spark, feed, str(tmp_path / "ckpt_big"), f"ticks_{uuid.uuid4().hex[:8]}")
    assert sorted(map(tuple, got.collect())) == [(i, f"t{i}") for i in range(3)]


def test_max_files_per_batch_bounds_microbatches(spark, tmp_path):
    register_avro_datasource(spark)
    feed = str(tmp_path / "landing3")
    os.makedirs(feed)
    for i in range(5):
        _land(feed, i, range(i * 4, i * 4 + 4))
    name = f"ticks_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("avro_py")
        .option("path", feed)
        .option("maxFilesPerBatch", "2")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    q.processAllAvailable()
    n_batches = len(q.recentProgress)
    q.stop()
    q.awaitTermination(60)
    assert spark.sql(f"SELECT count(*) FROM {name}").first()[0] == 20
    # 5 files at ≤2 per micro-batch → at least 3 non-empty batches
    assert sum(1 for pr in q.recentProgress if pr["numInputRows"] > 0) >= 3


def test_removed_file_is_a_loud_error(spark, tmp_path):
    from redshift_avro_spark.sources.files import AvroStreamReader
    import pyspark.sql.types as T

    feed = str(tmp_path / "landing4")
    os.makedirs(feed)
    _land(feed, 0, range(5))
    reader = AvroStreamReader(
        T.StructType(), {"path": feed}
    )
    assert reader.latestOffset() == {"n": 1}
    os.remove(os.path.join(feed, "chunk-0000.avro"))
    fresh = AvroStreamReader(T.StructType(), {"path": feed})
    with pytest.raises(RuntimeError, match="landing-zone convention"):
        fresh.partitions({"n": 0}, {"n": 1})


def test_stream_sink_chains_back_to_source(spark, tmp_path):
    """Source → sink roundtrip: stream Avro landing files through the
    connector INTO the Avro stream sink; the sink's output is itself a
    valid landing zone, so a batch read of it equals the input. A
    restart with more input appends new part-{batch} files without
    duplicating earlier batches."""
    register_avro_datasource(spark)
    feed = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(feed)
    _land(feed, 0, range(0, 30))
    _land(feed, 1, range(30, 60))

    def run_once():
        q = (
            spark.readStream.format("avro_py")
            .option("path", feed)
            .load()
            .writeStream.format("avro_py")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)

    run_once()
    got = spark.read.format("avro_py").load(out)
    assert sorted(r.tick_id for r in got.collect()) == list(range(60))

    _land(feed, 2, range(60, 75))
    run_once()
    got2 = spark.read.format("avro_py").load(out)
    assert sorted(r.tick_id for r in got2.collect()) == list(range(75))
    # final files are batch-deterministic (replay-idempotent names)
    names = sorted(f for f in os.listdir(out) if f.startswith("part-"))
    assert all(f.startswith("part-000000") for f in names)

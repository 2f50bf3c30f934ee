"""Avro file source & sink for PySpark.

The runtime has no spark-avro jar, so ``spark.read.format("avro")``
would fail. This module provides:

- **Splittable reads** (:func:`read_avro`): the driver lists the files,
  reads each header once and cuts every file into byte-range splits
  (``_plan_splits``); one ``mapInArrow`` stage over
  ``spark.range(0, n, 1, n)`` decodes split ``i`` in task ``i``
  (``_decode_split``). Each task re-synchronizes on the 16-byte sync
  marker and decodes only the blocks starting inside its range (the
  classic Hadoop-Avro split protocol — reference datafile.py:38,192
  sync markers "enable parallel splits", SURVEY §4), so one 100 TB file
  fans out across executors with no coordination. No Python DataSource
  planner runs for a read.
- **Schema-on-read with evolution**: the reader schema defaults to the
  first file's embedded writer schema; pass ``avroSchema`` to resolve
  heterogeneous/evolved files to one shape (reference io.py:990-1039).
- **Arrow-batched decode**: tasks yield pyarrow RecordBatches from the
  codec ladder; nested values are decoded straight into Arrow leaf
  columns, with no row-by-row Python→JVM conversion.
- **The ``avro_py`` Python DataSource** (Spark 4 API; "avro" itself is
  reserved by Spark's resolver for the absent built-in module) serves
  ``spark.read.format("avro_py")`` with the same two functions, and the
  writes: Arrow writers (batch and streaming) — each task takes Spark's
  Arrow batches and encodes them through the codec ladder (vector,
  generated or closure tier) into one container file per partition
  with the configured codec (``compression`` option:
  null/deflate/bzip2/...), block-buffered at SYNC_INTERVAL like the
  reference writer (datafile.py:39). Timestamps are written as the UTC
  instants Arrow holds, whatever the session time zone.
- **Streaming reads** (round 3): :class:`AvroStreamReader` turns a
  landing-zone directory into a checkpointed micro-batch stream —
  ``{"n": k}`` offsets over the (mtime, name)-ordered file ledger,
  partition-per-file planning, executor-side decode via the same
  split machinery, per-run ``maxFilesPerBatch`` rate limit. Restart
  resumes exactly after the consumed prefix (test_stream_source).

Helpers :func:`read_avro` / :func:`write_avro` /
:func:`read_avro_stream` are the entry points.
"""

from __future__ import annotations

import glob as globmod
import json
import os
import sys
import uuid
from dataclasses import dataclass
from typing import Any, Iterator, Optional, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from ..avroio.container import (
    ContainerWriter,
    iter_block_spans,
    read_file_header,
)
from ..avroio.convert import avro_to_spark_type, df_schema_to_avro
from ..avroio.ladder import get_decoder
from ..avroio.schema_model import AvroSchema, parse_schema

DEFAULT_SPLIT_SIZE = 32 * 1024 * 1024  # bytes; ~spark.sql.files.maxPartitionBytes


def _list_files(path: str) -> list[str]:
    """Resolve a file/dir/glob into data files (skip _SUCCESS, dotfiles)."""
    if os.path.isdir(path):
        entries = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if not f.startswith((".", "_"))
        )
    elif os.path.isfile(path):
        entries = [path]
    else:
        entries = sorted(p for p in globmod.glob(path) if os.path.isfile(p))
    if not entries:
        raise FileNotFoundError(f"no Avro files at {path!r}")
    return entries


@dataclass
class AvroSplit(InputPartition):
    path: str
    start: int
    end: int
    schema_json: str  # the file's writer schema, canonical JSON
    codec: str
    sync: bytes
    header_len: int


def _canonical(schema: Union[AvroSchema, str, dict, None]) -> Optional[str]:
    """Canonical schema JSON (the codec ladder's cache key), or None."""
    if schema is None:
        return None
    if not isinstance(schema, AvroSchema):
        schema = parse_schema(schema)
    return json.dumps(schema.to_json())


def _plan_splits(files: list[str], split_size: Optional[int]) -> list[AvroSplit]:
    """Cut each file into byte-range splits of about ``split_size``
    bytes (None: one split per file), reading each header once. Splits
    of one writer schema share one (interned) canonical JSON string, so
    a pickled split list holds each distinct writer schema once."""
    canonical: dict[str, str] = {}
    splits: list[AvroSplit] = []
    for path in files:
        size = os.path.getsize(path)
        header = read_file_header(path)
        writer_json = canonical.get(header.schema_json)
        if writer_json is None:
            writer_json = canonical[header.schema_json] = sys.intern(_canonical(header.schema))
        n = 1 if split_size is None else max(1, -(-size // split_size))
        step = -(-size // n)
        for s in range(0, size, step):
            splits.append(
                AvroSplit(
                    path=path,
                    start=s,
                    end=min(s + step, size),
                    schema_json=writer_json,
                    codec=header.codec,
                    sync=header.sync,
                    header_len=header.header_len,
                )
            )
    return splits


def _spark_schema(schema_json: str) -> T.StructType:
    """The DataFrame schema of a read with this (reader, else the first
    file's writer) schema."""
    dtype = avro_to_spark_type(schema_json)
    if not isinstance(dtype, T.StructType):
        raise TypeError("top-level Avro schema must be a record")
    return dtype


class AvroReader(DataSourceReader):
    def __init__(self, spark_schema: T.StructType, options: dict) -> None:
        self.spark_schema = spark_schema
        self.reader_json = _canonical(options.get("avroschema"))
        path = options.get("path")
        if not path:
            raise ValueError("avro reader requires a path")
        self.split_size = int(options.get("splitsize", DEFAULT_SPLIT_SIZE))
        self.files = _list_files(path)

    def partitions(self) -> list[AvroSplit]:
        return _plan_splits(self.files, self.split_size)

    def read(self, partition: AvroSplit) -> Iterator[Any]:
        return _decode_split(self.spark_schema, self.reader_json, partition)


def _decode_split(
    spark_schema: T.StructType, reader_json: Optional[str], split: AvroSplit
) -> Iterator[Any]:
    """Decode one byte-range split of a container file into Arrow
    RecordBatches (shared by ``read_avro``, the batch reader and the
    streaming reader). ``reader_json`` is canonical, or None to read
    with the writer schema."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..avroio.container import ContainerHeader

    header = ContainerHeader(
        schema_json=split.schema_json,
        codec=split.codec,
        sync=split.sync,
        meta={},
        header_len=split.header_len,
    )
    decoder = get_decoder(split.schema_json, reader_json)
    with open(split.path, "rb") as fobj:
        yield from decoder.decode_blocks(
            iter_block_spans(fobj, header, split.start, split.end),
            to_arrow_schema(spark_schema),
        )


@dataclass
class AvroCommit(WriterCommitMessage):
    file: str
    rows: int


def _write_part(sink: Any, fname: str, batches: Iterator[Any]) -> int:
    """Write one task's Arrow batches to the container file ``fname``
    through the codec ladder (``ContainerWriter.append_arrow``) → the
    row count. ``sink`` is the batch or streaming writer, whose options
    give the schema and codec."""
    if sink.avro_schema_json:
        schema = parse_schema(sink.avro_schema_json)
    else:
        schema = df_schema_to_avro(sink.spark_schema, name=sink.record_name)
    n = 0
    with open(fname, "wb") as fh, ContainerWriter(fh, schema, codec=sink.codec) as w:
        for batch in batches:
            w.append_arrow(batch)
            n += batch.num_rows
    return n


def _partition_id() -> int:
    from pyspark import TaskContext

    tc = TaskContext.get()
    return tc.partitionId() if tc is not None else 0


class AvroWriter(DataSourceArrowWriter):
    def __init__(self, spark_schema: T.StructType, options: dict, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("avro writer requires a path")
        self.codec = options.get("compression", "deflate")
        self.record_name = options.get("recordname", "topLevelRecord")
        self.avro_schema_json = options.get("avroschema")
        self.spark_schema = spark_schema
        self.overwrite = overwrite
        # part files stage under a dot prefix (readers skip dotfiles) and
        # only commit() deletes old data + renames staged files into
        # place, so a job that fails mid-write leaves the previous
        # contents intact — overwrite is commit-atomic
        self.run_id = uuid.uuid4().hex[:8]
        os.makedirs(self.path, exist_ok=True)

    def _staging_prefix(self) -> str:
        return f".staged-{self.run_id}-"

    def write(self, iterator: Iterator[Any]) -> AvroCommit:
        fname = os.path.join(
            self.path,
            f"{self._staging_prefix()}part-{_partition_id():05d}-{uuid.uuid4().hex[:8]}.avro",
        )
        return AvroCommit(file=fname, rows=_write_part(self, fname, iterator))

    def commit(self, messages: list[AvroCommit]) -> None:  # type: ignore[override]
        if self.overwrite:
            for f in os.listdir(self.path):
                if not f.startswith((".", "_")):
                    os.remove(os.path.join(self.path, f))
        prefix = self._staging_prefix()
        finals = []
        for m in messages:
            final = os.path.join(
                self.path, os.path.basename(m.file).replace(prefix, "", 1)
            )
            os.replace(m.file, final)
            finals.append(final)
        with open(os.path.join(self.path, "_SUCCESS"), "w") as fh:
            fh.write(json.dumps({"files": finals, "rows": sum(m.rows for m in messages)}))

    def abort(self, messages: list[AvroCommit]) -> None:  # type: ignore[override]
        for m in messages:
            if m is not None and os.path.exists(m.file):
                os.remove(m.file)


class AvroDataSource(DataSource):
    """``spark.read.format("avro_py")`` / ``df.write.format("avro_py")``.

    (The name "avro" itself is reserved by Spark's resolver for the
    built-in-but-external spark-avro module even when its jar is absent,
    so a Python data source cannot claim it.)"""

    @classmethod
    def name(cls) -> str:
        return "avro_py"

    def schema(self) -> T.StructType:
        reader_json = self.options.get("avroschema")
        if reader_json:
            return _spark_schema(reader_json)
        path = self.options.get("path")
        if not path:
            raise ValueError("avro source requires a path")
        return _spark_schema(read_file_header(_list_files(path)[0]).schema_json)

    def reader(self, schema: T.StructType) -> AvroReader:
        return AvroReader(schema, dict(self.options))

    def writer(self, schema: T.StructType, overwrite: bool) -> AvroWriter:
        return AvroWriter(schema, dict(self.options), overwrite)

    def streamReader(self, schema: T.StructType) -> "AvroStreamReader":
        return AvroStreamReader(schema, dict(self.options))

    def streamWriter(self, schema: T.StructType, overwrite: bool) -> "AvroStreamWriter":
        return AvroStreamWriter(schema, dict(self.options))


_REGISTERED: set[int] = set()


def register_avro_datasource(spark: SparkSession) -> None:
    key = id(spark)
    if key not in _REGISTERED:
        spark.dataSource.register(AvroDataSource)
        _REGISTERED.add(key)


def read_avro(
    spark: SparkSession,
    path: str,
    reader_schema: Union[AvroSchema, str, dict, None] = None,
    split_size: int = DEFAULT_SPLIT_SIZE,
) -> DataFrame:
    """Read Avro container files as a DataFrame (splittable, Arrow-batched).

    The driver lists the files and plans their byte-range splits; one
    ``mapInArrow`` stage over ``spark.range(0, n, 1, n)`` decodes split
    ``i`` in task ``i``. No Python DataSource planner runs, so a read
    starts no planner process."""
    reader_json = _canonical(reader_schema)
    splits = _plan_splits(_list_files(path), split_size)
    spark_schema = _spark_schema(reader_json or splits[0].schema_json)

    def decode(batches: Iterator[Any]) -> Iterator[Any]:
        for batch in batches:
            for i in batch.column(0).to_pylist():
                yield from _decode_split(spark_schema, reader_json, splits[i])

    n = len(splits)
    return spark.range(0, n, 1, n).mapInArrow(decode, spark_schema)


def write_avro(
    df: DataFrame,
    path: str,
    compression: str = "deflate",
    mode: str = "overwrite",
    record_name: str = "topLevelRecord",
    avro_schema: Union[AvroSchema, str, dict, None] = None,
) -> None:
    """Write a DataFrame as Avro container files (one per partition)."""
    register_avro_datasource(df.sparkSession)
    writer = (
        df.write.format("avro_py")
        .mode(mode)
        .option("compression", compression)
        .option("recordName", record_name)
    )
    if avro_schema is not None:
        if not isinstance(avro_schema, AvroSchema):
            avro_schema = parse_schema(avro_schema)
        writer = writer.option("avroSchema", json.dumps(avro_schema.to_json()))
    writer.save(path)


# ---------------------------------------------------------------------------
# Streaming source: the Avro landing-zone connector
# ---------------------------------------------------------------------------


class AvroStreamReader(DataSourceStreamReader):
    """Micro-batch streaming reader over a growing directory of Avro
    container files — the landing-zone shape a Kinesis Firehose /
    Kafka-connect sink produces (reference README.md:54-58's
    streaming ingest, as a REAL Spark connector: offsets in the
    checkpoint log, partition planning, executor-side decode,
    deterministic replay).

    Offset = ``{"n": k}``: the first ``k`` files in (mtime, name)
    order have been consumed. The reader keeps an append-only
    in-memory file ledger so an offset range always maps to the same
    files within a run; after a restart the ledger is rebuilt from the
    directory listing, which is deterministic under the landing-zone
    convention this source requires (files land atomically — write
    temp + rename — and are immutable afterwards; Spark's own
    FileStreamSource leans on the same convention). Each file becomes
    one input partition, decoded on executors through the identical
    split machinery as the batch reader — a 100 TB backlog fans out
    across the cluster, and ``maxFilesPerBatch`` bounds a micro-batch.
    """

    def __init__(self, spark_schema: T.StructType, options: dict) -> None:
        self.spark_schema = spark_schema
        self.reader_json = _canonical(options.get("avroschema"))
        self.path = options.get("path")
        if not self.path:
            raise ValueError("avro stream reader requires a path")
        self.max_files = int(options.get("maxfilesperbatch", 0)) or None
        self._ledger: list[str] = []

    def _list_dir(self) -> list[str]:
        if not os.path.isdir(self.path):
            return []
        entries = [
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if not f.startswith((".", "_"))
        ]
        return sorted(entries, key=lambda f: (os.path.getmtime(f), f))

    def _extend_ledger(self, upto: Optional[int] = None) -> None:
        seen = set(self._ledger)
        fresh = [f for f in self._list_dir() if f not in seen]
        if upto is not None:
            fresh = fresh[: max(0, upto - len(self._ledger))]
        self._ledger.extend(fresh)

    def initialOffset(self) -> dict:
        return {"n": 0}

    def latestOffset(self) -> dict:
        self._extend_ledger()
        n = len(self._ledger)
        # bound the micro-batch: advance at most maxFilesPerBatch past
        # the furthest point already planned/committed — Spark calls
        # latestOffset once per planning round, so a backlog drains
        # maxFiles per micro-batch. (The floor combines the last
        # planned offset with commit() feedback; after a process
        # restart the first round re-plans from the checkpoint log's
        # offset, so the limit is per-run, like Spark's own ReadLimit.)
        if self.max_files is not None and n > 0:
            floor = max(getattr(self, "_planned", 0), getattr(self, "_committed", 0))
            n = min(n, floor + self.max_files)
            self._planned = n
        return {"n": n}

    def partitions(self, start: dict, end: dict) -> list[AvroSplit]:
        self._extend_ledger(upto=end["n"])
        if end["n"] > len(self._ledger):
            raise RuntimeError(
                f"avro stream: offset {end['n']} beyond the {len(self._ledger)} "
                f"landed files — files were removed from {self.path!r}, which the "
                "landing-zone convention (atomic, immutable) forbids"
            )
        return _plan_splits(self._ledger[start["n"] : end["n"]], None)

    def read(self, partition: AvroSplit) -> Iterator[Any]:
        return _decode_split(self.spark_schema, self.reader_json, partition)

    def commit(self, end: dict) -> None:
        self._committed = end["n"]

    def stop(self) -> None:
        pass


def read_avro_stream(
    spark: SparkSession,
    path: str,
    reader_schema: Union[AvroSchema, str, dict, None] = None,
    max_files_per_batch: Optional[int] = None,
) -> DataFrame:
    """Stream Avro container files landing in ``path`` (micro-batch;
    offsets checkpointed; one input partition per file, executor-side
    decode). See :class:`AvroStreamReader` for the landing-zone
    contract."""
    register_avro_datasource(spark)
    reader = spark.readStream.format("avro_py").option("path", path)
    if reader_schema is not None:
        if not isinstance(reader_schema, AvroSchema):
            reader_schema = parse_schema(reader_schema)
        reader = reader.option("avroSchema", json.dumps(reader_schema.to_json()))
    if max_files_per_batch is not None:
        reader = reader.option("maxFilesPerBatch", str(max_files_per_batch))
    return reader.load()


class AvroStreamWriter(DataSourceStreamArrowWriter):
    """Micro-batch streaming SINK: each batch lands as Avro container
    files (one per non-empty partition) under ``path`` — the writer
    half of the landing-zone connector, producing exactly the layout
    :class:`AvroStreamReader` consumes, so engines chain.

    Exactly-once output: tasks stage under dot-prefixed names (readers
    skip dotfiles), ``commit(batchId)`` renames them to deterministic
    ``part-{batchId}-{partition}`` finals — a REPLAYED batch (failure
    after partial commit) overwrites the same final names instead of
    duplicating rows — and ``abort`` removes the staged files.
    """

    def __init__(self, spark_schema: T.StructType, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("avro stream writer requires a path")
        self.codec = options.get("compression", "deflate")
        self.record_name = options.get("recordname", "topLevelRecord")
        self.avro_schema_json = options.get("avroschema")
        self.spark_schema = spark_schema
        os.makedirs(self.path, exist_ok=True)

    def write(self, iterator: Iterator[Any]) -> AvroCommit:
        pid = _partition_id()
        staged = os.path.join(self.path, f".staged-{uuid.uuid4().hex[:8]}-{pid:05d}.avro")
        n = _write_part(self, staged, iterator)
        if n == 0:
            os.remove(staged)
            return AvroCommit(file="", rows=0)
        # carry the partition id so commit() can build the
        # deterministic, replay-idempotent final name
        return AvroCommit(file=f"{staged}\x00{pid}", rows=n)

    def commit(self, messages, batchId: int) -> None:  # type: ignore[override]
        for m in messages:
            if m is None or not m.file:
                continue
            staged, pid = m.file.split("\x00")
            final = os.path.join(self.path, f"part-{batchId:08d}-{int(pid):05d}.avro")
            os.replace(staged, final)

    def abort(self, messages, batchId: int) -> None:  # type: ignore[override]
        for m in messages:
            if m is None or not m.file:
                continue
            staged = m.file.split("\x00")[0]
            if os.path.exists(staged):
                os.remove(staged)

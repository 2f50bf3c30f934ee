"""Column-level Avro codecs: the Spark-native equivalents of the
reference's UDF surface.

Reference parity map (SURVEY §2.1/§2.2):

- S1 hex-decode scan  → :func:`from_hex` (built-in ``F.unhex``, JVM-side)
- S3 raw-datum decode → :func:`from_avro` (Arrow UDF over our compiled
  codec; reference io.py:669-676)
- K4 raw-datum encode → :func:`to_avro` (reference io.py:1103-1337)
- S2 container-bytes-in-column decode → :func:`decode_container` /
  :func:`decode_container_json` (reference avro-file-udf/
  lambda_function.py:17-21 — a whole Object Container File in ONE cell,
  yielding a LIST of records, README.md:7)
- K1 JSON re-serialization → :func:`decode_container_json` returns the
  exact ``json.dumps`` contract.

Design notes for 100 TB: every codec UDF here is a scalar *Arrow* UDF
(``arrow_udf``: pyarrow Arrays in and out, no pandas in between) or a
``mapInArrow`` stage whose codec comes from the decoder ladder
(avroio/ladder.py: numpy vector, generated or closure tier, built once
per executor process and schema — no per-row schema interpretation).
Arrow keeps a double NaN as NaN, a NULL apart from NaN, and a
timestamp as a UTC instant whatever the session time zone, in both
directions: :func:`to_avro` hands the encoder its struct column as it
is. Decode is a narrow map stage with no shuffle, and hex decode stays
JVM-side so Catalyst can prune/pushdown around it. PERMISSIVE mode yields per-row nulls instead
of failing the batch — an intentional improvement over the reference's
all-or-nothing batch failure envelope (avro-file-udf/
lambda_function.py:9-30).
"""

from __future__ import annotations

import json
from functools import lru_cache
from typing import Iterator, Optional, Union

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from ..avroio.binary import AvroDecodeError, BinaryReader, compile_decoder, compile_resolver
from ..avroio.block_codecs import get_codec
from ..avroio.container import iter_container, iter_raw_blocks, read_header
from ..avroio.convert import avro_to_spark_type, df_schema_to_avro, nullable_struct
from ..avroio.jsonio import datum_to_json
from ..avroio.ladder import arrow_spans, get_decoder, get_encoder
from ..avroio.schema_model import AvroSchema, fingerprint64, parse_schema
from ..avroio.single_object import HEADER_LEN

__all__ = [
    "from_hex",
    "to_hex",
    "from_avro",
    "from_avro_single_object",
    "from_avro_with_errors",
    "to_avro",
    "decode_container",
    "decode_container_json",
    "explode_containers",
    "infer_container_struct",
]


def _as_schema(schema: Union[AvroSchema, str, dict]) -> AvroSchema:
    return schema if isinstance(schema, AvroSchema) else parse_schema(schema)


def _schema_json(schema: Union[AvroSchema, str, dict]) -> str:
    return json.dumps(_as_schema(schema).to_json())


def _permissive(mode: str) -> bool:
    """A decode mode → True for PERMISSIVE (a null row per undecodable
    cell), False for FAILFAST (the task fails), in any letter case.
    Any other mode is a ValueError, so a typo never silently runs
    FAILFAST."""
    if mode.upper() not in ("FAILFAST", "PERMISSIVE"):
        raise ValueError(f"mode must be FAILFAST or PERMISSIVE, got {mode!r}")
    return mode.upper() == "PERMISSIVE"


def from_hex(col: Union[str, Column]) -> Column:
    """S1: Redshift VARBINARY arrives hex-encoded; decode JVM-side."""
    return F.unhex(col)


def to_hex(col: Union[str, Column]) -> Column:
    """Inverse of S1 (to build Redshift-shaped fixtures)."""
    return F.lower(F.hex(col))


# ---------------------------------------------------------------------------
# Raw datum <-> struct
# ---------------------------------------------------------------------------


def from_avro(
    col: Union[str, Column],
    schema: Union[AvroSchema, str, dict],
    reader_schema: Union[AvroSchema, str, dict, None] = None,
    mode: str = "FAILFAST",
) -> Column:
    """Decode a binary column of schemaless Avro datums into a struct.

    Equivalent of ``pyspark.sql.avro.functions.from_avro`` (the jar is
    not on this runtime's classpath) and of the reference's
    registry-keyed decode path (glue-schema-per-stream-udf/
    lambda_function.py:30-42). ``reader_schema`` enables evolution: data
    written with ``schema`` is resolved to ``reader_schema``
    (promotions, defaults, aliases — reference io.py:990-1039).

    mode="PERMISSIVE" maps undecodable rows to null instead of failing
    the task.
    """
    permissive = _permissive(mode)
    writer_json = _schema_json(schema)
    reader_json = _schema_json(reader_schema) if reader_schema is not None else None
    out_schema = _as_schema(reader_schema if reader_schema is not None else schema)
    struct_type = nullable_struct(avro_to_spark_type(out_schema))
    if not isinstance(struct_type, T.StructType):
        raise TypeError("from_avro requires a record schema at top level")

    @arrow_udf(returnType=struct_type)
    def _decode(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        dec = get_decoder(writer_json, reader_json)
        for arr in batches:
            buf, starts, ends, nulls = arrow_spans(arr)
            yield dec.decode_spans(buf, starts, ends, permissive, nulls).to_struct_array()

    return _decode(col)


def to_avro(
    col: Union[str, Column],
    schema: Union[AvroSchema, str, dict, None] = None,
    df: Optional[DataFrame] = None,
    record_name: str = "topLevelRecord",
) -> Column:
    """Encode a struct column into Avro binary datums.

    Equivalent of ``pyspark.sql.avro.functions.to_avro`` / the
    reference's DatumWriter path (io.py:1103-1337). If ``schema`` is
    omitted, it is generated from the struct column's Spark type —
    which requires ``df`` (PySpark cannot resolve a column's type
    without a DataFrame).
    """
    if schema is None:
        if df is None:
            raise ValueError("to_avro needs either an Avro schema or df= to derive one")
        col_expr = F.col(col) if isinstance(col, str) else col
        dtype = df.select(col_expr.alias("__c")).schema[0].dataType
        if not isinstance(dtype, T.StructType):
            raise TypeError(f"to_avro requires a struct column, got {dtype}")
        schema = df_schema_to_avro(dtype, name=record_name)
    schema_json_str = _schema_json(schema)

    @arrow_udf(returnType=T.BinaryType())
    def _encode(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        enc = get_encoder(schema_json_str)
        for arr in batches:
            yield enc.encode_arrow(arr)

    return _encode(col)


# ---------------------------------------------------------------------------
# Container bytes in a column (the reference's flagship cell shape)
# ---------------------------------------------------------------------------


def infer_container_struct(df: DataFrame, col: Union[str, Column]) -> tuple[str, T.StructType]:
    """Read ONE cell's container header on the driver to learn the
    embedded writer schema (datafile.py:329 semantics). Returns
    (avro schema JSON, Spark StructType)."""
    col_expr = F.col(col) if isinstance(col, str) else col
    sample = df.select(col_expr.alias("__c")).where(col_expr.isNotNull()).limit(1).collect()
    if not sample:
        raise ValueError("cannot infer container schema from an empty column")
    header = read_header(bytes(sample[0]["__c"]))
    struct = avro_to_spark_type(header.schema)
    if not isinstance(struct, T.StructType):
        raise TypeError("container schema is not a record")
    return header.schema_json, struct


def _container_target(df, col, schema, reader_schema) -> tuple[str, T.StructType]:
    """The record schema container cells decode to: ``reader_schema``,
    else ``schema``, else one sampled cell's writer schema
    (:func:`infer_container_struct`) → (canonical JSON, nullable Spark
    struct)."""
    target = reader_schema if reader_schema is not None else schema
    if target is None:
        if df is None:
            raise ValueError("decode_container needs schema= or df= to infer one")
        target, _ = infer_container_struct(df, col)
    parsed = _as_schema(target)
    struct_type = nullable_struct(avro_to_spark_type(parsed))
    if not isinstance(struct_type, T.StructType):
        raise TypeError("container record schema required")
    return json.dumps(parsed.to_json()), struct_type


def _cell_batches(blob: bytes, target_json: str, record_schema) -> Iterator[pa.RecordBatch]:
    """One container cell → RecordBatches of ``record_schema``: the
    cell's own writer schema (from its header) resolved to
    ``target_json``, block by block."""
    header = read_header(blob)
    dec = get_decoder(json.dumps(header.schema.to_json()), target_json)
    codec = get_codec(header.codec)
    blocks = (
        (count, codec.decompress(payload))
        for count, payload in iter_raw_blocks(blob, header.header_len, header.sync)
    )
    return dec.decode_blocks(blocks, record_schema)


def decode_container(
    col: Union[str, Column],
    schema: Union[AvroSchema, str, dict, None] = None,
    df: Optional[DataFrame] = None,
    reader_schema: Union[AvroSchema, str, dict, None] = None,
    mode: str = "FAILFAST",
) -> Column:
    """S2: each binary cell is a WHOLE Avro Object Container File; decode
    to ``array<struct>`` (one element per datum). Compose with
    ``F.explode`` for one row per record (U4, README.md:7 "list of
    records").

    The container header embeds the writer schema, so ``schema`` is only
    needed to declare the output type without scanning data; when
    neither it nor ``reader_schema`` is given, one cell is sampled via
    ``df`` (:func:`infer_container_struct`).
    Each cell still decodes with its OWN embedded writer schema, resolved
    to the declared reader schema — heterogeneous cells are fine as long
    as they're compatible.
    """
    permissive = _permissive(mode)
    target_json, struct_type = _container_target(df, col, schema, reader_schema)
    list_spark_type = T.ArrayType(struct_type)

    @arrow_udf(returnType=list_spark_type)
    def _decode(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        arrow_struct = to_arrow_type(struct_type)
        record_schema = pa.schema(list(arrow_struct))
        list_type = to_arrow_type(list_spark_type)
        for arr in batches:
            chunks = []
            lens = np.zeros(len(arr), dtype=np.int32)
            mask = np.zeros(len(arr), dtype=bool)
            for i, blob in enumerate(arr.to_pylist()):
                cell = None
                if blob is not None:
                    try:
                        rbs = _cell_batches(blob, target_json, record_schema)
                        cell = [rb.to_struct_array() for rb in rbs]
                    except Exception:
                        if not permissive:
                            raise
                if cell is None:  # a NULL cell, or an undecodable one under PERMISSIVE
                    mask[i] = True
                    continue
                chunks += cell
                lens[i] = sum(map(len, cell))
            values = pa.concat_arrays(chunks) if chunks else pa.array([], type=arrow_struct)
            offs = np.zeros(len(arr) + 1, dtype=np.int32)
            np.cumsum(lens, out=offs[1:])
            la = pa.ListArray.from_arrays(pa.array(offs), values, mask=pa.array(mask))
            yield la if la.type == list_type else la.cast(list_type)

    return _decode(col)


def decode_container_json(col: Union[str, Column], mode: str = "FAILFAST") -> Column:
    """The reference's EXACT flagship contract: container bytes →
    ``json.dumps(list_of_records)`` string (avro-file-udf/
    lambda_function.py:15-21, K1). Schema-free: each cell decodes with
    its own embedded writer schema."""
    permissive = _permissive(mode)

    @arrow_udf(returnType=T.StringType())
    def _decode(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for arr in batches:
            out = []
            for blob in arr.to_pylist():
                if blob is None:
                    out.append(None)
                    continue
                if permissive:
                    try:
                        out.append(datum_to_json(list(iter_container(blob))))
                    except Exception:
                        out.append(None)
                else:
                    out.append(datum_to_json(list(iter_container(blob))))
            yield pa.array(out, type=pa.string())

    return _decode(col)


def from_avro_with_errors(
    col: Union[str, Column],
    schema: Union[AvroSchema, str, dict],
    reader_schema: Union[AvroSchema, str, dict, None] = None,
) -> Column:
    """Per-row error-channel decode: ``struct<record, _error string>``.

    The reference's Lambda UDF fails the WHOLE Redshift batch when any
    row is undecodable (one try/except around the loop, avro-file-udf/
    lambda_function.py:9-30, K2). This is the per-row upgrade: good
    rows decode, poison rows carry their exception text in ``_error``
    and null record fields — so a quarantine sink can
    ``.filter("r._error IS NOT NULL")`` while the clean path continues.
    """
    writer_json = _schema_json(schema)
    reader_json = _schema_json(reader_schema) if reader_schema is not None else None
    out_schema = _as_schema(reader_schema if reader_schema is not None else schema)
    struct_type = nullable_struct(avro_to_spark_type(out_schema))
    if not isinstance(struct_type, T.StructType):
        raise TypeError("from_avro_with_errors requires a record schema at top level")
    wrapped = T.StructType(
        [T.StructField("record", struct_type, True), T.StructField("_error", T.StringType(), True)]
    )

    @arrow_udf(returnType=wrapped)
    def _decode(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        dec = get_decoder(writer_json, reader_json)
        fields = list(to_arrow_type(wrapped))
        for arr in batches:
            yield _with_errors_batch(dec, writer_json, reader_json, arr, fields)

    return _decode(col)


def _with_errors_batch(dec, writer_json: str, reader_json: Optional[str], arr: pa.Array, fields: list):
    """One batch of :func:`from_avro_with_errors` → its
    ``struct<record, _error>`` array. The ladder decodes the whole
    batch FAILFAST on the batch's own buffer; a NULL cell is a null
    record with ``_error`` "null input cell". Only a batch that raises
    goes row by row through the closure tier, whose exception text
    fills ``_error``."""
    buf, starts, ends, nulls = arrow_spans(arr)
    try:
        batch = dec.decode_spans(buf, starts, ends, False, nulls)
    except Exception:  # noqa: BLE001 — the per-row loop finds the bad rows
        pass
    else:
        if nulls is None:
            record = pa.StructArray.from_arrays(batch.columns, fields=list(fields[0].type))
            errs = pa.nulls(len(arr), pa.string())
        else:
            record = pa.StructArray.from_arrays(
                batch.columns, fields=list(fields[0].type), mask=pa.array(nulls)
            )
            errs = pa.array(np.where(nulls, "null input cell", None).tolist(), type=pa.string())
        return pa.StructArray.from_arrays([record, errs], fields=fields)
    fn = _closure_decoder(writer_json, reader_json)
    recs, errs = [], []
    for blob in arr.to_pylist():
        if blob is None:
            recs.append(None)
            errs.append("null input cell")
            continue
        try:
            recs.append(fn(BinaryReader(blob)))
            errs.append(None)
        except Exception as ex:  # noqa: BLE001 — error channel
            recs.append(None)
            errs.append(f"{type(ex).__name__}: {ex}")
    return pa.StructArray.from_arrays(
        [
            pa.array(recs, type=fields[0].type, from_pandas=False),
            pa.array(errs, type=fields[1].type),
        ],
        fields=fields,
    )


@lru_cache(maxsize=64)
def _closure_decoder(writer_json: str, reader_json: Optional[str]):
    """The closure tier (the semantic reference) for one schema pair."""
    writer = parse_schema(writer_json)
    if reader_json is not None:
        return compile_resolver(writer, parse_schema(reader_json), mode="spark")
    return compile_decoder(writer, mode="spark")


def explode_containers(
    df: DataFrame,
    col: str,
    schema: Union[AvroSchema, str, dict, None] = None,
    reader_schema: Union[AvroSchema, str, dict, None] = None,
    keep_cols: Optional[list[str]] = None,
) -> DataFrame:
    """Whole-partition container decode: one row per datum, streamed
    via ``mapInArrow`` (SURVEY §7.4's mitigation for
    container-in-column at scale).

    Unlike ``decode_container`` + ``explode`` — which materializes each
    cell's full record ARRAY as one value before exploding —
    this streams record batches out as it walks the blocks, so a
    multi-GB container cell never becomes a single in-memory array.
    ``keep_cols`` are carried through (repeated per datum)."""
    target_json, struct_type = _container_target(df, col, schema, reader_schema)
    keep = list(keep_cols or [])
    out_type = T.StructType(list(df.select(*keep).schema.fields) + list(struct_type.fields))

    def decode(batches: Iterator) -> Iterator:
        record_schema = pa.schema(list(to_arrow_type(struct_type)))
        for batch in batches:
            out_schema = pa.schema(list(batch.schema)[: len(keep)] + list(record_schema))
            for i, blob in enumerate(batch.column(len(keep)).to_pylist()):
                if blob is None:
                    continue
                for rb in _cell_batches(blob, target_json, record_schema):
                    idx = pa.array(np.full(rb.num_rows, i))
                    kept = [batch.column(j).take(idx) for j in range(len(keep))]
                    yield pa.RecordBatch.from_arrays(kept + rb.columns, schema=out_schema)

    return df.select(*keep, col).mapInArrow(decode, out_type)


def _single_object_batch(by_fp: dict, reader_json: str, arr, permissive: bool):
    """One Arrow batch of single-object messages (binary) → StructArray
    of the reader schema, in row order.

    The framing of every row is checked at once on the batch's own data
    buffer (:func:`arrow_spans`), each fingerprint is read as one
    ``<u8`` and rows are grouped by it, and each group's payloads
    decode in place in one :meth:`~..avroio.ladder.LadderDecoder.decode_spans`
    call. A NULL cell gives a row of nulls. So does a bad frame, an
    unknown fingerprint or an undecodable payload under PERMISSIVE;
    under FAILFAST the first such row in row order raises
    AvroDecodeError. ``by_fp`` maps each known fingerprint to its
    writer schema's canonical JSON."""
    buf, starts, ends, nulls = arrow_spans(arr)
    data = np.frombuffer(buf, dtype=np.uint8)
    framed = ends - starts >= HEADER_LEN
    if nulls is not None:
        framed &= ~nulls
    at = starts[framed]
    framed[framed] = (data[at] == 0xC3) & (data[at + 1] == 0x01)
    at = starts[framed]
    fps, inv = np.unique(
        data[at[:, None] + np.arange(2, HEADER_LEN)].view("<u8").ravel(), return_inverse=True
    )
    writers = [by_fp.get(fp) for fp in fps.tolist()]
    ok = np.zeros(len(starts), dtype=bool)
    ok[framed] = np.array([w is not None for w in writers], dtype=bool)[inv]
    bad = ~ok if nulls is None else ~ok & ~nulls
    if not permissive and bad.any():
        i = int(np.argmax(bad))
        cell = bytes(data[starts[i] : ends[i]])
        if not framed[i]:
            raise AvroDecodeError(f"bad single-object framing at row {i}: {cell[:2].hex()}")
        fp = int.from_bytes(cell[2:HEADER_LEN], "little")
        raise AvroDecodeError(f"unknown writer schema fingerprint {fp:#018x} at row {i}")
    key = np.zeros(len(starts), dtype=np.int64)  # row → its writer's index in ``writers``
    key[framed] = inv
    live = np.unique(key[ok])
    if not len(live):  # every row is null: any decoder gives them
        live, writers = np.zeros(1, dtype=np.int64), [reader_json]
    key[~ok] = live[0]  # null rows ride, masked, with the first group
    order = np.argsort(key, kind="stable")
    parts = []
    for g, rows in zip(live, np.split(order, np.searchsorted(key[order], live[1:]))):
        spans = (starts[rows] + HEADER_LEN, ends[rows], permissive, ~ok[rows])
        parts.append(get_decoder(writers[g], reader_json).decode_spans(buf, *spans))
    out = pa.concat_arrays([part.to_struct_array() for part in parts])
    if (np.diff(key) < 0).any():  # rows not already in group order
        out = out.take(pa.array(np.argsort(order)))
    return out


def from_avro_single_object(
    col: Union[str, Column],
    schemas: list,
    reader_schema: Union[AvroSchema, str, dict, None] = None,
    mode: str = "FAILFAST",
) -> Column:
    """Decode a binary column of Avro SINGLE-OBJECT messages (spec
    framing: ``C3 01`` marker + 8-byte LE CRC-64-AVRO writer
    fingerprint + datum — see avroio/single_object.py) into a struct.

    ``schemas`` lists every writer-schema version the stream may carry
    (the fingerprint-keyed analogue of the Glue/Spring registry caches
    in sources/registry.py); each message resolves its writer by the
    EMBEDDED fingerprint, so one column can mix schema versions.
    ``reader_schema`` (default: ``schemas[0]``) is what every row
    evolves to.

    Scale shape: per Arrow batch, the framing of every row is checked
    and its fingerprint read by numpy on the batch's own buffer; rows
    are grouped by fingerprint and each group's payloads decode in place
    through the same decoder ladder as :func:`from_avro`, with no
    per-row Python work (:func:`_single_object_batch`).
    mode="PERMISSIVE" maps bad framing / unknown fingerprints /
    undecodable rows to null rows instead of failing.
    """
    permissive = _permissive(mode)
    schema_jsons = [_schema_json(s) for s in schemas]
    if not schema_jsons:
        raise ValueError("from_avro_single_object: schemas must be non-empty")
    reader_json = (
        _schema_json(reader_schema) if reader_schema is not None else schema_jsons[0]
    )
    struct_type = nullable_struct(avro_to_spark_type(_as_schema(reader_json)))
    if not isinstance(struct_type, T.StructType):
        raise TypeError("from_avro_single_object requires a record schema at top level")

    @arrow_udf(returnType=struct_type)
    def _decode(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        by_fp = {fingerprint64(parse_schema(sj)): sj for sj in schema_jsons}
        for arr in batches:
            yield _single_object_batch(by_fp, reader_json, arr, permissive)

    return _decode(F.col(col) if isinstance(col, str) else col)

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
from typing import Iterator, Optional, Union

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from ..avroio.binary import BinaryReader, compile_decoder, compile_resolver
from ..avroio.block_codecs import get_codec
from ..avroio.container import ContainerHeader, iter_container, iter_raw_blocks, read_header
from ..avroio.convert import avro_to_spark_type, df_schema_to_avro, nullable_struct
from ..avroio.jsonio import datum_to_json
from ..avroio.ladder import arrow_spans, get_decoder, get_encoder
from ..avroio.schema_model import AvroSchema, parse_schema

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


def _cell_blocks(blob: bytes, header: ContainerHeader) -> Iterator[tuple[int, bytes]]:
    """A container cell's blocks as (datum count, decompressed payload)."""
    codec = get_codec(header.codec)
    for count, payload in iter_raw_blocks(blob, header.header_len, header.sync):
        yield count, codec.decompress(payload)


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
    writer_json = _schema_json(schema)
    reader_json = _schema_json(reader_schema) if reader_schema is not None else None
    out_schema = _as_schema(reader_schema if reader_schema is not None else schema)
    struct_type = nullable_struct(avro_to_spark_type(out_schema))
    if not isinstance(struct_type, T.StructType):
        raise TypeError("from_avro requires a record schema at top level")
    permissive = mode.upper() == "PERMISSIVE"

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
    omitted, one cell is sampled via ``df`` (:func:`infer_container_struct`).
    Each cell still decodes with its OWN embedded writer schema, resolved
    to the declared reader schema — heterogeneous cells are fine as long
    as they're compatible.
    """
    if schema is None:
        if df is None:
            raise ValueError("decode_container needs schema= or df= to infer one")
        schema_json_str, struct_type = infer_container_struct(df, col)
    else:
        schema_json_str = _schema_json(schema)
        struct_type = avro_to_spark_type(_as_schema(schema))
    if reader_schema is not None:
        schema_json_str = _schema_json(reader_schema)
        struct_type = avro_to_spark_type(_as_schema(reader_schema))
    struct_type = nullable_struct(struct_type)
    if not isinstance(struct_type, T.StructType):
        raise TypeError("container record schema required")
    permissive = mode.upper() == "PERMISSIVE"

    list_spark_type = T.ArrayType(struct_type)

    @arrow_udf(returnType=list_spark_type)
    def _decode(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        target_canon = json.dumps(parse_schema(schema_json_str).to_json())
        arrow_struct = to_arrow_type(struct_type)
        record_schema = pa.schema(list(arrow_struct))

        def decode_cell_struct(blob: bytes) -> "pa.Array":
            header = read_header(blob)
            dec = get_decoder(json.dumps(header.schema.to_json()), target_canon)
            chunks = [
                rb.to_struct_array()
                for rb in dec.decode_blocks(_cell_blocks(blob, header), record_schema)
            ]
            return pa.concat_arrays(chunks) if chunks else pa.array([], type=arrow_struct)

        list_type = to_arrow_type(list_spark_type)
        for arr in batches:
            chunks = []
            offs: list = [0]
            mask: list = []
            for blob in arr.to_pylist():
                if blob is None:
                    mask.append(True)
                    offs.append(offs[-1])
                    continue
                if permissive:
                    try:
                        sa = decode_cell_struct(blob)
                    except Exception:
                        mask.append(True)
                        offs.append(offs[-1])
                        continue
                else:
                    sa = decode_cell_struct(blob)
                chunks.append(sa)
                mask.append(False)
                offs.append(offs[-1] + len(sa))
            values = (
                pa.concat_arrays(chunks) if chunks else pa.array([], type=arrow_struct)
            )
            la = pa.ListArray.from_arrays(
                pa.array(offs, pa.int32()), values, mask=pa.array(mask, pa.bool_())
            )
            yield la if la.type == list_type else la.cast(list_type)

    return _decode(col)


def decode_container_json(col: Union[str, Column], mode: str = "FAILFAST") -> Column:
    """The reference's EXACT flagship contract: container bytes →
    ``json.dumps(list_of_records)`` string (avro-file-udf/
    lambda_function.py:15-21, K1). Schema-free: each cell decodes with
    its own embedded writer schema."""
    permissive = mode.upper() == "PERMISSIVE"

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
        writer = parse_schema(writer_json)
        if reader_json is not None:
            fn = compile_resolver(writer, parse_schema(reader_json), mode="spark")
        else:
            fn = compile_decoder(writer, mode="spark")
        fields = list(to_arrow_type(wrapped))
        for arr in batches:
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
            yield pa.StructArray.from_arrays(
                [
                    pa.array(recs, type=fields[0].type, from_pandas=False),
                    pa.array(errs, type=fields[1].type),
                ],
                fields=fields,
            )

    return _decode(col)


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
    if schema is None:
        schema_json_str, struct_type = infer_container_struct(df, col)
    else:
        schema_json_str = _schema_json(schema)
        struct_type = avro_to_spark_type(_as_schema(schema))
    if reader_schema is not None:
        schema_json_str = _schema_json(reader_schema)
        struct_type = avro_to_spark_type(_as_schema(reader_schema))
    struct_type = nullable_struct(struct_type)
    if not isinstance(struct_type, T.StructType):
        raise TypeError("container record schema required")
    keep = list(keep_cols or [])
    out_type = T.StructType(list(df.select(*keep).schema.fields) + list(struct_type.fields))

    def decode(batches: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        target_canon = json.dumps(parse_schema(schema_json_str).to_json())
        record_schema = pa.schema(list(to_arrow_type(struct_type)))
        for batch in batches:
            out_schema = pa.schema(list(batch.schema)[: len(keep)] + list(record_schema))
            for i, blob in enumerate(batch.column(len(keep)).to_pylist()):
                if blob is None:
                    continue
                header = read_header(blob)
                dec = get_decoder(json.dumps(header.schema.to_json()), target_canon)
                for rb in dec.decode_blocks(_cell_blocks(blob, header), record_schema):
                    idx = pa.array(np.full(rb.num_rows, i))
                    kept = [batch.column(j).take(idx) for j in range(len(keep))]
                    yield pa.RecordBatch.from_arrays(kept + rb.columns, schema=out_schema)

    return df.select(*keep, col).mapInArrow(decode, out_type)


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

    Scale shape: per Arrow batch, rows are grouped by fingerprint and
    each group decodes through the same decoder ladder as
    :func:`from_avro` — per-row work is only the 10-byte header parse.
    mode="PERMISSIVE" maps bad framing / unknown fingerprints /
    undecodable rows to null rows instead of failing.
    """
    import struct as _struct

    import numpy as np

    from ..avroio.binary import AvroDecodeError
    from ..avroio.schema_model import fingerprint64
    from ..avroio.single_object import HEADER_LEN, V1_MARKER

    schema_jsons = [_schema_json(s) for s in schemas]
    if not schema_jsons:
        raise ValueError("from_avro_single_object: schemas must be non-empty")
    reader_json = (
        _schema_json(reader_schema) if reader_schema is not None else schema_jsons[0]
    )
    struct_type = nullable_struct(avro_to_spark_type(_as_schema(reader_json)))
    if not isinstance(struct_type, T.StructType):
        raise TypeError("from_avro_single_object requires a record schema at top level")
    permissive = mode.upper() == "PERMISSIVE"

    @arrow_udf(returnType=struct_type)
    def _decode(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        by_fp = {fingerprint64(parse_schema(sj)): sj for sj in schema_jsons}
        arrow_struct = to_arrow_type(struct_type)

        for arr in batches:
            vals = arr.to_pylist()
            groups: dict = {}
            null_rows = []
            for i, b in enumerate(vals):
                if b is None:
                    null_rows.append(i)
                    continue
                if len(b) < HEADER_LEN or b[:2] != V1_MARKER:
                    if permissive:
                        null_rows.append(i)
                        continue
                    raise AvroDecodeError(
                        f"bad single-object framing at row {i}: "
                        f"{b[:2].hex() if len(b) >= 2 else b.hex()}"
                    )
                fp = _struct.unpack("<Q", b[2:HEADER_LEN])[0]
                if fp not in by_fp:
                    if permissive:
                        null_rows.append(i)
                        continue
                    raise AvroDecodeError(
                        f"unknown writer schema fingerprint {fp:#018x} at row {i}"
                    )
                groups.setdefault(fp, []).append(i)
            parts, order = [], []
            for fp, idxs in groups.items():
                dec = get_decoder(by_fp[fp], reader_json)
                payloads = [vals[i][HEADER_LEN:] for i in idxs]
                parts.append(dec.decode_blobs(payloads, permissive).to_struct_array())
                order.extend(idxs)
            if null_rows:  # non-null structs of null fields, as from_avro gives
                nulls = [pa.nulls(len(null_rows), f.type) for f in arrow_struct]
                parts.append(pa.StructArray.from_arrays(nulls, fields=list(arrow_struct)))
                order.extend(null_rows)
            if not parts:
                yield pa.array([], type=arrow_struct)
                continue
            # back to row order: out[i] is the part row holding input row i
            yield pa.concat_arrays(parts).take(pa.array(np.argsort(order)))

    return _decode(F.col(col) if isinstance(col, str) else col)

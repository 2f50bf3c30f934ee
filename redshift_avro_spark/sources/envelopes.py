"""Streaming envelopes: the byte layers wrapped around Avro datums in
flight (SURVEY §2.1 S6/S7, §3.3).

A Kinesis cell can nest three envelopes before the Avro body:

    hex string → KPL protobuf aggregate → Spring embedded headers → datum

- **Spring embedded headers** (springcloud-lambda-udf/
  lambda_function.py:72-139; upstream spring-cloud-stream
  EmbeddedHeaderUtils): ``0xFF`` magic, 1-byte header count, then per
  header (1-byte key length, key, 4-byte BE value length, JSON value).
  A non-0xFF first byte means "no headers" and the stream is untouched.
- **KPL aggregation** (aggregated_record.proto:1-17): proto2
  ``AggregatedRecord{partition_key_table, explicit_hash_key_table,
  records[]}``; each ``Record{partition_key_index,
  explicit_hash_key_index?, data, tags[]}``. The protobuf wheel is not
  in this runtime, so the proto2 *wire format* (varint keys,
  length-delimited fields — public protobuf encoding spec) is decoded
  directly; the reference's own decode is broken (SURVEY Appendix A.6),
  so the spec is the source of truth. A matching encoder exists to
  build test fixtures.

Spark-side: :func:`spring_headers_udf` and :func:`explode_kpl` wrap
these as pandas UDFs so a DataFrame pipeline can express
``unhex → explode(kpl) → headers → from_avro(body)`` (SURVEY §3.3);
:func:`unwrap_kpl_spring_avro` fuses that whole chain into one
``mapInArrow`` stage when the pipeline only needs the decoded body —
each chained UDF costs a JVM↔Python round trip, and the fused form pays
it once, with Arrow in and out and no pandas in between.

The fused stage does not build the parsers' per-record objects. A span
scanner walks each cell of a batch's Arrow data buffer, KPL frame and
then Spring header block, and emits the ``(start, end)`` of every Avro
body inside that buffer; the decoder ladder's vector tier then decodes
the bodies in place. The scanner takes only the common well-formed
shape (key-table and record fields, records of key indexes and
``data``, header walks in bounds). Any other cell — tags, other wire
types, multi-byte tags, a truncation, a bad key or header — goes
through :func:`decode_kpl_aggregate` and :func:`parse_spring_message`
as a whole, so it yields their rows or raises their error. Header
blocks are still validated: each distinct block of a batch is parsed
once by :func:`parse_spring_message`. The column functions and the
Redshift UDF keep the exact parsers, since they return headers and
keys.
"""

from __future__ import annotations

import json
from array import array
from dataclasses import dataclass, field
from typing import Iterator, Optional, Union

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

SPRING_MAGIC = 0xFF


# ---------------------------------------------------------------------------
# Spring embedded headers
# ---------------------------------------------------------------------------


def parse_spring_message(data: bytes) -> tuple[dict[str, str], bytes]:
    """Split a Spring-Cloud-Stream payload into (headers, body).

    Returns ``({}, data)`` unchanged when the magic byte is absent
    (reference lambda_function.py:122-125)."""
    if not data or data[0] != SPRING_MAGIC:
        return {}, data
    pos = 1
    try:
        count = data[pos]
        pos += 1
        headers: dict[str, str] = {}
        for _ in range(count):
            klen = data[pos]
            pos += 1
            key = data[pos : pos + klen].decode("utf-8")
            pos += klen
            vlen = int.from_bytes(data[pos : pos + 4], "big")
            pos += 4
            raw = data[pos : pos + vlen]
            if len(raw) != vlen:
                raise ValueError("truncated header value")
            pos += vlen
            headers[key] = json.loads(raw.decode("utf-8"))
        return headers, data[pos:]
    except (IndexError, UnicodeDecodeError, json.JSONDecodeError) as exc:
        raise ValueError(f"malformed Spring embedded headers: {exc}") from exc


def build_spring_message(headers: dict[str, str], body: bytes) -> bytes:
    """Inverse of :func:`parse_spring_message` (fixture builder)."""
    out = bytearray([SPRING_MAGIC, len(headers)])
    for k, v in headers.items():
        kb = k.encode("utf-8")
        vb = json.dumps(v).encode("utf-8")
        out.append(len(kb))
        out += kb
        out += len(vb).to_bytes(4, "big")
        out += vb
    return bytes(out) + body


SPRING_STRUCT = T.StructType(
    [
        T.StructField("headers", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("body", T.BinaryType(), True),
    ]
)


def spring_headers_udf() -> "pandas_udf":
    @pandas_udf(returnType=SPRING_STRUCT)
    def _split(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for series in batches:
            headers_col, body_col = [], []
            for blob in series:
                if blob is None:
                    headers_col.append(None)
                    body_col.append(None)
                else:
                    h, b = parse_spring_message(bytes(blob))
                    headers_col.append({k: str(v) for k, v in h.items()})
                    body_col.append(b)
            yield pd.DataFrame({"headers": headers_col, "body": body_col})

    return _split


def extract_spring_headers(col: Union[str, Column]) -> Column:
    """Binary column → struct<headers: map<string,string>, body: binary>."""
    return spring_headers_udf()(col)


# ---------------------------------------------------------------------------
# KPL aggregation (proto2 wire format, hand-decoded)
# ---------------------------------------------------------------------------

_WT_VARINT = 0
_WT_I64 = 1
_WT_LEN = 2
_WT_I32 = 5


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    n = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated protobuf varint")
        b = data[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7


def _iter_proto_fields(data: bytes) -> Iterator[tuple[int, int, Union[int, bytes]]]:
    """Yield (field_number, wire_type, value) from a proto2 message."""
    pos = 0
    while pos < len(data):
        tag, pos = _read_varint(data, pos)
        fieldno, wt = tag >> 3, tag & 0x07
        if wt == _WT_VARINT:
            v, pos = _read_varint(data, pos)
            yield fieldno, wt, v
        elif wt == _WT_LEN:
            ln, pos = _read_varint(data, pos)
            if pos + ln > len(data):
                raise ValueError("truncated protobuf length-delimited field")
            yield fieldno, wt, data[pos : pos + ln]
            pos += ln
        elif wt == _WT_I64:
            yield fieldno, wt, int.from_bytes(data[pos : pos + 8], "little")
            pos += 8
        elif wt == _WT_I32:
            yield fieldno, wt, int.from_bytes(data[pos : pos + 4], "little")
            pos += 4
        else:
            raise ValueError(f"unsupported protobuf wire type {wt}")


@dataclass
class KplTag:
    key: str
    value: Optional[str] = None


@dataclass
class KplRecord:
    partition_key_index: int = 0
    explicit_hash_key_index: Optional[int] = None
    data: bytes = b""
    tags: list[KplTag] = field(default_factory=list)


@dataclass
class KplAggregate:
    partition_key_table: list[str] = field(default_factory=list)
    explicit_hash_key_table: list[str] = field(default_factory=list)
    records: list[KplRecord] = field(default_factory=list)


def _parse_tag(data: bytes) -> KplTag:
    tag = KplTag(key="")
    for fieldno, _, v in _iter_proto_fields(data):
        if fieldno == 1:
            tag.key = v.decode("utf-8")  # type: ignore[union-attr]
        elif fieldno == 2:
            tag.value = v.decode("utf-8")  # type: ignore[union-attr]
    return tag


def _parse_record(data: bytes) -> KplRecord:
    rec = KplRecord()
    for fieldno, _, v in _iter_proto_fields(data):
        if fieldno == 1:
            rec.partition_key_index = int(v)
        elif fieldno == 2:
            rec.explicit_hash_key_index = int(v)
        elif fieldno == 3:
            rec.data = bytes(v)  # type: ignore[arg-type]
        elif fieldno == 4:
            rec.tags.append(_parse_tag(bytes(v)))  # type: ignore[arg-type]
    return rec


def decode_kpl_aggregate(data: bytes) -> KplAggregate:
    """Parse an ``AggregatedRecord`` (aggregated_record.proto:14-17)."""
    agg = KplAggregate()
    for fieldno, _, v in _iter_proto_fields(data):
        if fieldno == 1:
            agg.partition_key_table.append(v.decode("utf-8"))  # type: ignore[union-attr]
        elif fieldno == 2:
            agg.explicit_hash_key_table.append(v.decode("utf-8"))  # type: ignore[union-attr]
        elif fieldno == 3:
            agg.records.append(_parse_record(bytes(v)))  # type: ignore[arg-type]
    return agg


def kpl_sub_payloads(data: bytes) -> list[bytes]:
    """The reference's KPLClient.decode contract: aggregate → list of
    sub-payload bytes (lambda_function.py:150-155, fixed per spec)."""
    return [r.data for r in decode_kpl_aggregate(data).records]


# --- fixture-building encoder (inverse of the decoder) ---------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _len_field(fieldno: int, payload: bytes) -> bytes:
    return _varint((fieldno << 3) | _WT_LEN) + _varint(len(payload)) + payload


def _varint_field(fieldno: int, v: int) -> bytes:
    return _varint((fieldno << 3) | _WT_VARINT) + _varint(v)


def encode_kpl_aggregate(agg: KplAggregate) -> bytes:
    out = bytearray()
    for pk in agg.partition_key_table:
        out += _len_field(1, pk.encode("utf-8"))
    for ehk in agg.explicit_hash_key_table:
        out += _len_field(2, ehk.encode("utf-8"))
    for rec in agg.records:
        body = bytearray(_varint_field(1, rec.partition_key_index))
        if rec.explicit_hash_key_index is not None:
            body += _varint_field(2, rec.explicit_hash_key_index)
        body += _len_field(3, rec.data)
        for tag in rec.tags:
            tbody = _len_field(1, tag.key.encode("utf-8"))
            if tag.value is not None:
                tbody += _len_field(2, tag.value.encode("utf-8"))
            body += _len_field(4, bytes(tbody))
        out += _len_field(3, bytes(body))
    return bytes(out)


def encode_kpl_simple(partition_key: str, datas: list) -> bytes:
    """Bulk fixture builder for the common KPL shape — one partition
    key, every record at partition_key_index 0, no explicit hash keys,
    no tags. Byte-identical to ``encode_kpl_aggregate(KplAggregate(
    partition_key_table=[partition_key], records=[KplRecord(
    partition_key_index=0, data=d) for d in datas]))`` (pinned by
    test) but without the per-record dataclass + field-assembly loop:
    the record prefix is constant, so the whole aggregate is one
    ``join`` over precomputed slices (~3× less Python per record —
    this loop dominated q24's envelope-synthesis stage at 100k rows)."""
    rec_prefix = _varint_field(1, 0)
    rec_key = _varint((3 << 3) | _WT_LEN)
    parts = [_len_field(1, partition_key.encode("utf-8"))]
    for d in datas:
        body = rec_prefix + _len_field(3, d)
        parts.append(rec_key + _varint(len(body)) + body)
    return b"".join(parts)


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

KPL_RECORD_STRUCT = T.StructType(
    [
        T.StructField("partition_key", T.StringType(), True),
        T.StructField("explicit_hash_key", T.StringType(), True),
        T.StructField("data", T.BinaryType(), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def explode_kpl(col: Union[str, Column]) -> Column:
    """Binary KPL aggregate column → ``array<struct>`` of sub-records
    (compose with ``F.explode``). Partition keys are resolved through the
    aggregate's key tables."""

    @pandas_udf(returnType=T.ArrayType(KPL_RECORD_STRUCT))
    def _deagg(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for series in batches:
            out = []
            for blob in series:
                if blob is None:
                    out.append(None)
                    continue
                agg = decode_kpl_aggregate(bytes(blob))
                rows = []
                for rec in agg.records:
                    pk = (
                        agg.partition_key_table[rec.partition_key_index]
                        if rec.partition_key_index < len(agg.partition_key_table)
                        else None
                    )
                    ehk = None
                    if rec.explicit_hash_key_index is not None and rec.explicit_hash_key_index < len(
                        agg.explicit_hash_key_table
                    ):
                        ehk = agg.explicit_hash_key_table[rec.explicit_hash_key_index]
                    rows.append(
                        {
                            "partition_key": pk,
                            "explicit_hash_key": ehk,
                            "data": rec.data,
                            "tags": {t.key: (t.value or "") for t in rec.tags},
                        }
                    )
                out.append(rows)
            yield pd.Series(out, dtype=object)

    return _deagg(col)


# --- fused unwrap: span scanner ---------------------------------------------


def _varint_at(d: bytes, p: int, end: int) -> tuple[int, int]:
    """Unsigned varint at ``d[p]`` that must end before ``end`` →
    (value, next position), or (-1, p) when it runs past ``end``."""
    n = shift = 0
    while p < end:
        b = d[p]
        p += 1
        n |= (b & 0x7F) << shift
        if b < 0x80:
            return n, p
        shift += 7
    return -1, p


def _spring_end(d: bytes, p: int, end: int) -> int:
    """End of the Spring header block starting with the magic byte at
    ``d[p]``, or -1 when its walk would leave ``d[p:end]``."""
    p += 1
    if p >= end:
        return -1
    count = d[p]
    p += 1
    for _ in range(count):
        if p >= end:
            return -1
        p += 1 + d[p]
        if p + 4 > end:
            return -1
        p += 4 + int.from_bytes(d[p : p + 4], "big")
        if p > end:
            return -1
    return p


def _scan_cell(
    d: bytes, p: int, e: int, starts: array, ends: array, seen: set, last: bytes
) -> Optional[bytes]:
    """Walk the KPL aggregate ``d[p:e]`` and append the ``(start, end)``
    of every sub-record's Avro body, its Spring header block skipped,
    to ``starts``/``ends``.

    Returns None on any shape the walk does not take — the caller drops
    this cell's partial spans and runs the exact parsers on it: a field
    other than the two key tables and records, a record field other
    than the two key indexes and ``data``, a multi-byte tag, a
    truncation, an invalid-UTF-8 key, or a header block that
    :func:`parse_spring_message` rejects. ``seen`` holds the header
    blocks validated so far in this batch, ``last`` the latest of them;
    a record starting with ``last`` skips it without a walk (the walk
    only reads the block's own bytes). Returns the new ``last``."""
    nlast = len(last)
    while p < e:
        tag = d[p]
        if p + 1 >= e:
            return None
        ln = d[p + 1]
        p += 2
        if ln >= 0x80:
            ln, p = _varint_at(d, p - 1, e)
        q = p + ln
        if ln < 0 or q > e:
            return None
        if tag == 0x1A:  # Record: the last ``data`` wins, as in _parse_record
            ds = de = p
            while p < q:
                t = d[p]
                if p + 1 >= q:
                    return None
                v = d[p + 1]
                p += 2
                if v >= 0x80:
                    v, p = _varint_at(d, p - 1, q)
                    if v < 0:
                        return None
                if t == 0x1A:
                    ds, de = p, p + v
                    if de > q:
                        return None
                    p = de
                elif t != 0x08 and t != 0x10:
                    return None
            if ds < de and d[ds] == SPRING_MAGIC:
                if d.startswith(last, ds) and ds + nlast <= de:
                    ds += nlast
                else:
                    h = _spring_end(d, ds, de)
                    if h < 0:
                        return None
                    block = d[ds:h]
                    if block not in seen:
                        try:
                            parse_spring_message(block)
                        except (ValueError, RecursionError):  # the exact path raises it
                            return None
                        seen.add(block)
                    last, nlast, ds = block, h - ds, h
            starts.append(ds)
            ends.append(de)
        elif tag == 0x0A or tag == 0x12:  # key tables: UTF-8 checked, dropped
            try:
                d[p:q].decode("utf-8")
            except UnicodeDecodeError:
                return None
        else:
            return None
        p = q
    return last


def _unwrap_batch(dec, cells):
    """One Arrow batch of KPL cells (binary, nulls skipped) → the
    RecordBatch of every sub-record's decoded Avro body, in row order.

    Each cell is scanned to body spans of the batch's data buffer
    (:func:`_scan_cell`, on one bytes copy of it) and all spans decode
    in one :meth:`~..avroio.ladder.LadderDecoder.decode_spans` call on
    the Arrow buffer itself. A cell the scanner declines goes through
    ``decode_kpl_aggregate`` → ``parse_spring_message`` as a whole, so
    it gives the same bodies or raises the same error; its bodies are
    appended past the buffer's end."""
    import numpy as np

    from ..avroio.ladder import arrow_spans

    buf, lo, hi, null_mask = arrow_spans(cells)
    d = buf if isinstance(buf, bytes) else buf.to_pybytes()
    starts = array("q")
    ends = array("q")
    seen: set = set()
    last = b"\x00"  # never a header block: those start with the magic byte
    tail: list = []
    tail_end = len(d)
    nulls = null_mask.tolist() if null_mask is not None else [False] * len(lo)
    for p, e, null in zip(lo.tolist(), hi.tolist(), nulls):
        if null:
            continue
        mark = len(starts)
        scanned = _scan_cell(d, p, e, starts, ends, seen, last)
        if scanned is not None:
            last = scanned
            continue
        del starts[mark:], ends[mark:]
        for rec in decode_kpl_aggregate(d[p:e]).records:
            _, body = parse_spring_message(rec.data)
            tail.append(body)
            starts.append(tail_end)
            tail_end += len(body)
            ends.append(tail_end)
    data = b"".join([d, *tail]) if tail else buf
    del d
    return dec.decode_spans(
        data, np.frombuffer(starts, dtype=np.int64), np.frombuffer(ends, dtype=np.int64)
    )


def unwrap_kpl_spring_avro(df, col: str, schema):
    """Fused envelope unwrap: KPL aggregate bytes → sub-records → Spring
    headers stripped → Avro datum decoded, in ONE ``mapInArrow`` stage
    (one row per sub-record, record fields as top-level columns).

    Equivalent to ``explode(explode_kpl(col)) → extract_spring_headers →
    from_avro`` but pays the Python/Arrow stage cost once instead of
    three times. Each batch's cells are scanned to the byte spans of
    their Avro bodies inside the batch's own data buffer, and the
    bodies decode there in one call to the decoder ladder
    (avroio/ladder.py) — no per-record bytes, dataclass or JSON header
    parse. The scanner takes the common well-formed shape; any other
    cell (tags, other wire types or fields, truncation, a header block
    that fails to parse) goes through :func:`decode_kpl_aggregate` and
    :func:`parse_spring_message` as a whole, so rows and errors are
    theirs. Each distinct header block of a batch is still parsed once,
    so a bad key or JSON value raises as before. Headers and partition
    keys are dropped — use the composable column functions when the
    pipeline needs them."""
    from ..avroio.convert import avro_to_spark_type, nullable_struct
    from ..avroio.ladder import get_decoder
    from ..avroio.schema_model import AvroSchema
    from ..avroio.schema_model import parse_schema as _parse

    sch = schema if isinstance(schema, AvroSchema) else _parse(schema)
    schema_json = json.dumps(sch.to_json())
    struct_type = nullable_struct(avro_to_spark_type(sch))
    if not isinstance(struct_type, T.StructType):
        raise TypeError("unwrap_kpl_spring_avro requires a record schema")

    def run(batches: Iterator) -> Iterator:
        dec = get_decoder(schema_json)
        for batch in batches:
            yield _unwrap_batch(dec, batch.column(0))

    return df.select(col).mapInArrow(run, struct_type)

"""Avro binary encoding: compiled per-schema codecs.

Spec-based replacement for the reference's row-at-a-time interpreter
(/root/reference/python-udf/avro/io.py:235-1337). Instead of dispatching
on schema type per value (io.py:678-791), each schema compiles ONCE into
a tree of closures — decode, encode, skip, and a writer→reader resolving
decode (io.py:990-1039 semantics) — so the per-datum hot path is plain
function calls. This matters because the Spark integration calls these
from Arrow UDFs, batch by batch.

Intended-spec semantics, not the port's bugs (SURVEY.md Appendix A):
float codec works (A.1), encode paths work (A.2), timestamp encode works
(A.4), and union *encode* picks the FIRST matching branch (upstream/spec
behavior; the port accidentally picked the last, io.py:1313-1317).
"""

from __future__ import annotations

import datetime as dt
import struct
import uuid as uuid_mod
from decimal import Decimal
from typing import Any, Callable, Optional

from .schema_model import (
    ArraySchema,
    AvroSchema,
    EnumSchema,
    Field,
    FixedSchema,
    MapSchema,
    PrimitiveSchema,
    RecordSchema,
    UnionSchema,
)

INT_MIN, INT_MAX = -(1 << 31), (1 << 31) - 1
LONG_MIN, LONG_MAX = -(1 << 63), (1 << 63) - 1

_EPOCH_UTC = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
_EPOCH_NAIVE = dt.datetime(1970, 1, 1)
_EPOCH_DATE = dt.date(1970, 1, 1)

try:  # numpy scalars flow in from pandas UDF batches; accept them as numbers
    import numpy as _np

    _INT_TYPES: tuple = (int, _np.integer)
    _FLOAT_TYPES: tuple = (float, _np.floating)
    _BOOL_TYPES: tuple = (bool, _np.bool_)
except ImportError:  # pragma: no cover
    _INT_TYPES = (int,)
    _FLOAT_TYPES = (float,)
    _BOOL_TYPES = (bool,)

_STRUCT_F = struct.Struct("<f")
_STRUCT_D = struct.Struct("<d")


class AvroDecodeError(ValueError):
    pass


class AvroEncodeError(ValueError):
    pass


class SchemaResolutionError(AvroDecodeError):
    """Writer's data cannot be resolved to the reader's schema."""


# ---------------------------------------------------------------------------
# Raw byte-level reader / writer
# ---------------------------------------------------------------------------


class BinaryReader:
    """Sequential reader over a bytes buffer."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def read_long(self) -> int:
        """Zigzag varint (Avro int and long share this encoding)."""
        data, pos = self.data, self.pos
        try:
            b = data[pos]
            n = b & 0x7F
            shift = 7
            while b & 0x80:
                pos += 1
                b = data[pos]
                n |= (b & 0x7F) << shift
                shift += 7
        except IndexError:
            raise AvroDecodeError("truncated varint") from None
        self.pos = pos + 1
        return (n >> 1) ^ -(n & 1)

    def read_boolean(self) -> bool:
        v = self.read_fixed(1)[0]
        return v != 0

    def read_float(self) -> float:
        return _STRUCT_F.unpack(self.read_fixed(4))[0]

    def read_double(self) -> float:
        return _STRUCT_D.unpack(self.read_fixed(8))[0]

    def read_fixed(self, n: int) -> bytes:
        if n < 0:  # corrupt varint — never legal as a length
            raise AvroDecodeError(f"negative length: {n}")
        end = self.pos + n
        if end > len(self.data):
            raise AvroDecodeError("truncated input")
        out = self.data[self.pos : end]
        self.pos = end
        return out

    def read_bytes(self) -> bytes:
        n = self.read_long()
        if n < 0:
            raise AvroDecodeError(f"negative bytes length: {n}")
        return self.read_fixed(n)

    def read_utf8(self) -> str:
        return self.read_bytes().decode("utf-8")

    def skip(self, n: int) -> None:
        if n < 0:  # corrupt varint — a skip must never move backwards
            raise AvroDecodeError(f"negative length: {n}")
        self.pos += n
        if self.pos > len(self.data):
            raise AvroDecodeError("truncated input")

    def at_end(self) -> bool:
        return self.pos >= len(self.data)


class BinaryWriter:
    """Accumulates encoded bytes."""

    __slots__ = ("_parts",)

    def __init__(self) -> None:
        self._parts: list[bytes] = []

    def write(self, b: bytes) -> None:
        self._parts.append(b)

    def write_long(self, v: int) -> None:
        n = (v << 1) ^ (v >> 63)
        out = bytearray()
        while n & ~0x7F:
            out.append((n & 0x7F) | 0x80)
            n >>= 7
        out.append(n)
        self._parts.append(bytes(out))

    def write_boolean(self, v: bool) -> None:
        self._parts.append(b"\x01" if v else b"\x00")

    def write_float(self, v: float) -> None:
        self._parts.append(_STRUCT_F.pack(v))

    def write_double(self, v: float) -> None:
        self._parts.append(_STRUCT_D.pack(v))

    def write_bytes(self, v: bytes) -> None:
        self.write_long(len(v))
        self._parts.append(bytes(v))

    def write_utf8(self, v: str) -> None:
        self.write_bytes(v.encode("utf-8"))

    def getvalue(self) -> bytes:
        return b"".join(self._parts)


# ---------------------------------------------------------------------------
# Logical-type value conversion
# ---------------------------------------------------------------------------


def _decimal_from_unscaled(unscaled: int, scale: int) -> Decimal:
    return Decimal(unscaled).scaleb(-scale)


def _unscaled_from_decimal(value: Any, scale: int, what: str) -> int:
    if isinstance(value, int):
        value = Decimal(value)
    elif isinstance(value, float):
        value = Decimal(str(value))
    if not isinstance(value, Decimal):
        raise AvroEncodeError(f"{what}: expected Decimal, got {type(value).__name__}")
    scaled = value.scaleb(scale)
    unscaled = int(scaled)
    if scaled != unscaled:
        raise AvroEncodeError(f"{what}: {value} does not fit scale {scale}")
    return unscaled


def _min_signed_width(v: int) -> int:
    """Minimal two's-complement byte width holding ``v``."""
    return ((v if v >= 0 else ~v).bit_length() // 8) + 1


def _millis_to_time(ms: int) -> dt.time:
    s, ms = divmod(ms, 1000)
    m, s = divmod(s, 60)
    h, m = divmod(m, 60)
    return dt.time(h, m, s, ms * 1000)


def _micros_to_time(us: int) -> dt.time:
    s, us = divmod(us, 1_000_000)
    m, s = divmod(s, 60)
    h, m = divmod(m, 60)
    return dt.time(h, m, s, us)


def _time_to_micros(t: dt.time) -> int:
    return ((t.hour * 60 + t.minute) * 60 + t.second) * 1_000_000 + t.microsecond


def _ts_to_micros(value: Any, what: str) -> int:
    if isinstance(value, dt.datetime):
        if value.tzinfo is None:
            # convention: naive datetimes are UTC (reference requires
            # tz-aware, schema.py:1139-1144; we accept naive-as-UTC since
            # Arrow hands us naive UTC timestamps)
            value = value.replace(tzinfo=dt.timezone.utc)
        delta = value - _EPOCH_UTC
        return (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
    if isinstance(value, _INT_TYPES) and not isinstance(value, _BOOL_TYPES):
        return int(value)
    raise AvroEncodeError(f"{what}: expected datetime, got {type(value).__name__}")


# ---------------------------------------------------------------------------
# Decoder compilation
# ---------------------------------------------------------------------------

DecodeFn = Callable[[BinaryReader], Any]
EncodeFn = Callable[[BinaryWriter, Any], None]
SkipFn = Callable[[BinaryReader], None]


def compile_decoder(schema: AvroSchema, mode: str = "python") -> DecodeFn:
    """Compile a decoder.

    mode="python": logical values as rich Python objects (Decimal, aware
    datetime, dt.time) and unions as the branch value — the reference's
    in-memory representation (io.py:29-41).

    mode="spark": values shaped for Arrow/Spark rows per SURVEY §1.2 —
    naive-UTC datetimes (session TZ is pinned UTC), time-millis/micros as
    raw ints (Spark has no TIME type), and general (non-nullable) unions
    as member structs ``{"member0": ..}`` (spark-avro convention).
    """
    return _compile_dec(schema, {"__mode__": mode})


def _compile_dec(schema: AvroSchema, env: dict) -> DecodeFn:
    key = id(schema)
    if key in env:
        return env[key]
    spark_mode = env.get("__mode__") == "spark"

    if isinstance(schema, PrimitiveSchema):
        t, lt = schema.type, schema.logical
        if lt is None:
            return {
                "null": lambda r: None,
                "boolean": BinaryReader.read_boolean,
                "int": BinaryReader.read_long,
                "long": BinaryReader.read_long,
                "float": BinaryReader.read_float,
                "double": BinaryReader.read_double,
                "bytes": BinaryReader.read_bytes,
                "string": BinaryReader.read_utf8,
            }[t]
        if lt == "decimal":
            scale = schema.scale

            def dec_decimal(r: BinaryReader) -> Decimal:
                raw = r.read_bytes()
                return _decimal_from_unscaled(int.from_bytes(raw, "big", signed=True), scale)

            return dec_decimal
        if lt == "date":
            return lambda r: _EPOCH_DATE + dt.timedelta(days=r.read_long())
        if lt == "time-millis":
            if spark_mode:
                return BinaryReader.read_long
            return lambda r: _millis_to_time(r.read_long())
        if lt == "time-micros":
            if spark_mode:
                return BinaryReader.read_long
            return lambda r: _micros_to_time(r.read_long())
        if lt == "timestamp-millis":
            epoch = _EPOCH_NAIVE if spark_mode else _EPOCH_UTC
            return lambda r: epoch + dt.timedelta(milliseconds=r.read_long())
        if lt == "timestamp-micros":
            epoch = _EPOCH_NAIVE if spark_mode else _EPOCH_UTC
            return lambda r: epoch + dt.timedelta(microseconds=r.read_long())
        if lt == "uuid":
            return BinaryReader.read_utf8
        raise AvroDecodeError(f"unhandled logical type {lt!r}")

    if isinstance(schema, FixedSchema):
        size = schema.size
        if schema.logical == "decimal":
            scale = schema.scale

            def dec_fixed_decimal(r: BinaryReader) -> Decimal:
                raw = r.read_fixed(size)
                return _decimal_from_unscaled(int.from_bytes(raw, "big", signed=True), scale)

            return dec_fixed_decimal
        return lambda r: r.read_fixed(size)

    if isinstance(schema, EnumSchema):
        symbols = schema.symbols

        def dec_enum(r: BinaryReader) -> str:
            i = r.read_long()
            if not 0 <= i < len(symbols):
                raise AvroDecodeError(f"enum index {i} out of range for {symbols}")
            return symbols[i]

        return dec_enum

    if isinstance(schema, ArraySchema):
        cell: list[DecodeFn] = []
        env[key] = lambda r: cell[0](r)
        item = _compile_dec(schema.items, env)

        def dec_array(r: BinaryReader) -> list:
            out = []
            n = r.read_long()
            while n != 0:
                if n < 0:
                    n = -n
                    r.read_long()  # byte-size hint; unused when decoding all
                for _ in range(n):
                    out.append(item(r))
                n = r.read_long()
            return out

        cell.append(dec_array)
        env[key] = dec_array
        return dec_array

    if isinstance(schema, MapSchema):
        cell = []
        env[key] = lambda r: cell[0](r)
        val = _compile_dec(schema.values, env)

        def dec_map(r: BinaryReader) -> dict:
            out = {}
            n = r.read_long()
            while n != 0:
                if n < 0:
                    n = -n
                    r.read_long()
                for _ in range(n):
                    k = r.read_utf8()
                    out[k] = val(r)
                n = r.read_long()
            return out

        cell.append(dec_map)
        env[key] = dec_map
        return dec_map

    if isinstance(schema, UnionSchema):
        cell = []
        env[key] = lambda r: cell[0](r)
        branch_fns = tuple(_compile_dec(b, env) for b in schema.branches)

        non_null = schema.non_null_branches()
        if spark_mode and len(non_null) >= 2:
            # member-struct representation for general unions
            member_of: dict[int, str] = {}
            j = 0
            for i, b in enumerate(schema.branches):
                if b.type != "null":
                    member_of[i] = f"member{j}"
                    j += 1
            members = tuple(f"member{k}" for k in range(len(non_null)))

            def dec_union_members(r: BinaryReader) -> Any:
                i = r.read_long()
                if not 0 <= i < len(branch_fns):
                    raise AvroDecodeError(f"union branch {i} out of range")
                v = branch_fns[i](r)
                name = member_of.get(i)
                if name is None:
                    return None  # null branch → null struct
                return {m: (v if m == name else None) for m in members}

            cell.append(dec_union_members)
            env[key] = dec_union_members
            return dec_union_members

        def dec_union(r: BinaryReader) -> Any:
            i = r.read_long()
            if not 0 <= i < len(branch_fns):
                raise AvroDecodeError(f"union branch {i} out of range")
            return branch_fns[i](r)

        cell.append(dec_union)
        env[key] = dec_union
        return dec_union

    if isinstance(schema, RecordSchema):
        cell = []
        env[key] = lambda r: cell[0](r)
        field_fns = tuple((f.name, _compile_dec(f.schema, env)) for f in schema.fields)

        def dec_record(r: BinaryReader) -> dict:
            return {name: fn(r) for name, fn in field_fns}

        cell.append(dec_record)
        env[key] = dec_record
        return dec_record

    raise AvroDecodeError(f"cannot compile decoder for {schema!r}")


# ---------------------------------------------------------------------------
# Skipper compilation (reference io.py skip_* family — column pruning seed)
# ---------------------------------------------------------------------------


def compile_skipper(schema: AvroSchema) -> SkipFn:
    return _compile_skip(schema, {})


def _skip_varint(r: BinaryReader) -> None:
    r.read_long()


def _skip_len_prefixed(r: BinaryReader) -> None:
    r.skip(r.read_long())


def _compile_skip(schema: AvroSchema, env: dict[int, SkipFn]) -> SkipFn:
    key = id(schema)
    if key in env:
        return env[key]

    if isinstance(schema, PrimitiveSchema):
        t = schema.type
        if t == "null":
            return lambda r: None
        if t == "boolean":
            return lambda r: r.skip(1)
        if t in ("int", "long"):
            return _skip_varint
        if t == "float":
            return lambda r: r.skip(4)
        if t == "double":
            return lambda r: r.skip(8)
        return _skip_len_prefixed  # bytes / string

    if isinstance(schema, FixedSchema):
        size = schema.size
        return lambda r: r.skip(size)

    if isinstance(schema, EnumSchema):
        return _skip_varint

    if isinstance(schema, (ArraySchema, MapSchema)):
        cell: list[SkipFn] = []
        env[key] = lambda r: cell[0](r)
        if isinstance(schema, ArraySchema):
            inner = _compile_skip(schema.items, env)
            is_map = False
        else:
            inner = _compile_skip(schema.values, env)
            is_map = True

        def skip_blocks(r: BinaryReader) -> None:
            n = r.read_long()
            while n != 0:
                if n < 0:
                    # negative count: next long is the byte size — skip whole block
                    r.skip(r.read_long())
                else:
                    for _ in range(n):
                        if is_map:
                            _skip_len_prefixed(r)
                        inner(r)
                n = r.read_long()

        cell.append(skip_blocks)
        env[key] = skip_blocks
        return skip_blocks

    if isinstance(schema, UnionSchema):
        cell = []
        env[key] = lambda r: cell[0](r)
        branch_fns = tuple(_compile_skip(b, env) for b in schema.branches)

        def skip_union(r: BinaryReader) -> None:
            i = r.read_long()
            if not 0 <= i < len(branch_fns):
                raise AvroDecodeError(f"union branch {i} out of range")
            branch_fns[i](r)

        cell.append(skip_union)
        env[key] = skip_union
        return skip_union

    if isinstance(schema, RecordSchema):
        cell = []
        env[key] = lambda r: cell[0](r)
        field_fns = tuple(_compile_skip(f.schema, env) for f in schema.fields)

        def skip_record(r: BinaryReader) -> None:
            for fn in field_fns:
                fn(r)

        cell.append(skip_record)
        env[key] = skip_record
        return skip_record

    raise AvroDecodeError(f"cannot compile skipper for {schema!r}")


# ---------------------------------------------------------------------------
# Encoder compilation
# ---------------------------------------------------------------------------


def compile_encoder(schema: AvroSchema) -> EncodeFn:
    return _compile_enc(schema, {})


def _compile_enc(schema: AvroSchema, env: dict[int, EncodeFn]) -> EncodeFn:
    key = id(schema)
    if key in env:
        return env[key]

    if isinstance(schema, PrimitiveSchema):
        t, lt = schema.type, schema.logical
        if lt is None:
            if t == "null":

                def enc_null(w: BinaryWriter, v: Any) -> None:
                    if v is not None:
                        raise AvroEncodeError(f"null schema got {v!r}")

                return enc_null
            if t == "boolean":

                def enc_bool(w: BinaryWriter, v: Any) -> None:
                    if not isinstance(v, _BOOL_TYPES):
                        raise AvroEncodeError(f"boolean schema got {v!r}")
                    w.write_boolean(bool(v))

                return enc_bool
            if t in ("int", "long"):
                lo, hi = (INT_MIN, INT_MAX) if t == "int" else (LONG_MIN, LONG_MAX)

                def enc_int(w: BinaryWriter, v: Any) -> None:
                    if isinstance(v, _BOOL_TYPES) or not isinstance(v, _INT_TYPES):
                        raise AvroEncodeError(f"{t} schema got {v!r}")
                    v = int(v)
                    if not lo <= v <= hi:
                        raise AvroEncodeError(f"{v} out of range for {t}")
                    w.write_long(v)

                return enc_int
            if t == "float":

                def enc_float(w: BinaryWriter, v: Any) -> None:
                    if not isinstance(v, _INT_TYPES + _FLOAT_TYPES) or isinstance(v, _BOOL_TYPES):
                        raise AvroEncodeError(f"float schema got {v!r}")
                    w.write_float(float(v))

                return enc_float
            if t == "double":

                def enc_double(w: BinaryWriter, v: Any) -> None:
                    if not isinstance(v, _INT_TYPES + _FLOAT_TYPES) or isinstance(v, _BOOL_TYPES):
                        raise AvroEncodeError(f"double schema got {v!r}")
                    w.write_double(float(v))

                return enc_double
            if t == "bytes":

                def enc_bytes(w: BinaryWriter, v: Any) -> None:
                    if not isinstance(v, (bytes, bytearray, memoryview)):
                        raise AvroEncodeError(f"bytes schema got {v!r}")
                    w.write_bytes(bytes(v))

                return enc_bytes

            def enc_str(w: BinaryWriter, v: Any) -> None:
                if not isinstance(v, str):
                    raise AvroEncodeError(f"string schema got {v!r}")
                w.write_utf8(v)

            return enc_str
        if lt == "decimal":
            scale = schema.scale

            def enc_decimal(w: BinaryWriter, v: Any) -> None:
                unscaled = _unscaled_from_decimal(v, scale, "decimal(bytes)")
                w.write_bytes(unscaled.to_bytes(_min_signed_width(unscaled), "big", signed=True))

            return enc_decimal
        if lt == "date":

            def enc_date(w: BinaryWriter, v: Any) -> None:
                if isinstance(v, dt.datetime):
                    v = v.date()
                if isinstance(v, dt.date):
                    w.write_long((v - _EPOCH_DATE).days)
                elif isinstance(v, _INT_TYPES):
                    w.write_long(int(v))
                else:
                    raise AvroEncodeError(f"date schema got {v!r}")

            return enc_date
        if lt == "time-millis":

            def enc_time_ms(w: BinaryWriter, v: Any) -> None:
                if isinstance(v, dt.time):
                    w.write_long(_time_to_micros(v) // 1000)
                elif isinstance(v, _INT_TYPES):
                    w.write_long(int(v))
                else:
                    raise AvroEncodeError(f"time-millis schema got {v!r}")

            return enc_time_ms
        if lt == "time-micros":

            def enc_time_us(w: BinaryWriter, v: Any) -> None:
                if isinstance(v, dt.time):
                    w.write_long(_time_to_micros(v))
                elif isinstance(v, _INT_TYPES):
                    w.write_long(int(v))
                else:
                    raise AvroEncodeError(f"time-micros schema got {v!r}")

            return enc_time_us
        if lt == "timestamp-millis":
            return lambda w, v: w.write_long(_ts_to_micros(v, "timestamp-millis") // 1000)
        if lt == "timestamp-micros":
            return lambda w, v: w.write_long(_ts_to_micros(v, "timestamp-micros"))
        if lt == "uuid":

            def enc_uuid(w: BinaryWriter, v: Any) -> None:
                if isinstance(v, uuid_mod.UUID):
                    v = str(v)
                if not isinstance(v, str):
                    raise AvroEncodeError(f"uuid schema got {v!r}")
                w.write_utf8(v)

            return enc_uuid
        raise AvroEncodeError(f"unhandled logical type {lt!r}")

    if isinstance(schema, FixedSchema):
        size = schema.size
        if schema.logical == "decimal":
            scale = schema.scale

            def enc_fixed_decimal(w: BinaryWriter, v: Any) -> None:
                unscaled = _unscaled_from_decimal(v, scale, f"decimal(fixed({size}))")
                try:
                    w.write(unscaled.to_bytes(size, "big", signed=True))
                except OverflowError:
                    raise AvroEncodeError(f"{v} does not fit fixed({size})") from None

            return enc_fixed_decimal

        def enc_fixed(w: BinaryWriter, v: Any) -> None:
            if not isinstance(v, (bytes, bytearray, memoryview)) or len(v) != size:
                raise AvroEncodeError(f"fixed({size}) schema got {v!r}")
            w.write(bytes(v))

        return enc_fixed

    if isinstance(schema, EnumSchema):
        index = {s: i for i, s in enumerate(schema.symbols)}
        name = schema.fullname

        def enc_enum(w: BinaryWriter, v: Any) -> None:
            i = index.get(v)
            if i is None:
                raise AvroEncodeError(f"{v!r} is not a symbol of enum {name}")
            w.write_long(i)

        return enc_enum

    if isinstance(schema, ArraySchema):
        cell: list[EncodeFn] = []
        env[key] = lambda w, v: cell[0](w, v)
        item = _compile_enc(schema.items, env)

        def enc_array(w: BinaryWriter, v: Any) -> None:
            if v is None or isinstance(v, (str, bytes, dict)) or not hasattr(v, "__iter__"):
                raise AvroEncodeError(f"array schema got {v!r}")
            v = list(v)
            if v:
                w.write_long(len(v))
                for item_v in v:
                    item(w, item_v)
            w.write_long(0)

        cell.append(enc_array)
        env[key] = enc_array
        return enc_array

    if isinstance(schema, MapSchema):
        cell = []
        env[key] = lambda w, v: cell[0](w, v)
        val = _compile_enc(schema.values, env)

        def enc_map(w: BinaryWriter, v: Any) -> None:
            # accept dict or iterable of (key, value) pairs (Arrow's
            # to_pylist hands a map as a list of tuples)
            if isinstance(v, dict):
                items = v.items()
            elif isinstance(v, (list, tuple)):
                items = v
            else:
                raise AvroEncodeError(f"map schema got {v!r}")
            items = list(items)
            if items:
                w.write_long(len(items))
                for k, item_v in items:
                    if not isinstance(k, str):
                        raise AvroEncodeError(f"map key must be string, got {k!r}")
                    w.write_utf8(k)
                    val(w, item_v)
            w.write_long(0)

        cell.append(enc_map)
        env[key] = enc_map
        return enc_map

    if isinstance(schema, UnionSchema):
        cell = []
        env[key] = lambda w, v: cell[0](w, v)
        branch_encs = tuple(_compile_enc(b, env) for b in schema.branches)
        branch_tests = tuple(_value_matcher(b) for b in schema.branches)

        # inverse of dec_union_members: general unions may arrive from
        # Spark as member-structs {'member0': v, 'member1': None, ...}
        # (spark-avro convention, convert.py); map memberN back to its
        # branch index
        member_to_branch: dict[str, int] = {}
        null_branch: Optional[int] = None
        j = 0
        for i, b in enumerate(schema.branches):
            if b.type == "null":
                null_branch = i
            else:
                member_to_branch[f"member{j}"] = i
                j += 1
        member_keys = frozenset(member_to_branch) if j >= 2 else None

        def enc_union(w: BinaryWriter, v: Any) -> None:
            if (
                member_keys is not None
                and isinstance(v, dict)
                and frozenset(v) == member_keys
            ):
                chosen = [(m, mv) for m, mv in v.items() if mv is not None]
                if not chosen:
                    if null_branch is not None:
                        w.write_long(null_branch)
                        return
                    raise AvroEncodeError("all-None member struct for non-nullable union")
                if len(chosen) > 1:
                    raise AvroEncodeError(f"ambiguous union member struct {v!r}")
                m, mv = chosen[0]
                i = member_to_branch[m]
                w.write_long(i)
                branch_encs[i](w, mv)
                return
            # FIRST matching branch (spec behavior; the reference port's
            # last-match loop at io.py:1313-1317 is a bug, SURVEY App. A)
            for i, test in enumerate(branch_tests):
                if test(v):
                    w.write_long(i)
                    branch_encs[i](w, v)
                    return
            raise AvroEncodeError(f"{v!r} matches no union branch")

        cell.append(enc_union)
        env[key] = enc_union
        return enc_union

    if isinstance(schema, RecordSchema):
        cell = []
        env[key] = lambda w, v: cell[0](w, v)
        field_encs = tuple((f, _compile_enc(f.schema, env)) for f in schema.fields)
        rec_name = schema.fullname

        def enc_record(w: BinaryWriter, v: Any) -> None:
            if not isinstance(v, dict):
                raise AvroEncodeError(f"record {rec_name} got {v!r}")
            for f, fn in field_encs:
                if f.name in v:
                    fv = v[f.name]
                elif f.has_default:
                    fv = default_value(f)
                else:
                    raise AvroEncodeError(f"record {rec_name} missing field {f.name!r}")
                fn(w, fv)

        cell.append(enc_record)
        env[key] = enc_record
        return enc_record

    raise AvroEncodeError(f"cannot compile encoder for {schema!r}")


def _value_matcher(schema: AvroSchema) -> Callable[[Any], bool]:
    """Shallow runtime-type test used for union branch selection."""
    if isinstance(schema, PrimitiveSchema):
        t, lt = schema.type, schema.logical
        if lt == "decimal":
            return lambda v: isinstance(v, Decimal)
        if lt == "date":
            return lambda v: isinstance(v, dt.date) and not isinstance(v, dt.datetime)
        if lt in ("time-millis", "time-micros"):
            return lambda v: isinstance(v, dt.time)
        if lt in ("timestamp-millis", "timestamp-micros"):
            # a raw epoch int encodes as it does in a plain timestamp field
            return lambda v: isinstance(v, dt.datetime) or (
                isinstance(v, _INT_TYPES) and not isinstance(v, _BOOL_TYPES)
            )
        if lt == "uuid":
            return lambda v: isinstance(v, (str, uuid_mod.UUID))
        return {
            "null": lambda v: v is None,
            "boolean": lambda v: isinstance(v, bool),
            "int": lambda v: isinstance(v, int) and not isinstance(v, bool) and INT_MIN <= v <= INT_MAX,
            "long": lambda v: isinstance(v, int) and not isinstance(v, bool),
            "float": lambda v: isinstance(v, float),
            "double": lambda v: isinstance(v, float),
            "bytes": lambda v: isinstance(v, (bytes, bytearray)),
            "string": lambda v: isinstance(v, str),
        }[t]
    if isinstance(schema, FixedSchema):
        if schema.logical == "decimal":
            return lambda v: isinstance(v, Decimal)
        size = schema.size
        return lambda v: isinstance(v, (bytes, bytearray)) and len(v) == size
    if isinstance(schema, EnumSchema):
        symbols = set(schema.symbols)
        return lambda v: isinstance(v, str) and v in symbols
    if isinstance(schema, ArraySchema):
        return lambda v: isinstance(v, (list, tuple))
    if isinstance(schema, MapSchema):
        return lambda v: isinstance(v, dict)
    if isinstance(schema, RecordSchema):
        return lambda v: isinstance(v, dict)
    raise AvroEncodeError(f"no matcher for {schema!r}")


# ---------------------------------------------------------------------------
# Default-value materialization (reference io.py:1045-1100)
# ---------------------------------------------------------------------------


def default_value(field: Field) -> Any:
    """Avro-JSON default → in-memory value (union default = first branch)."""
    from .jsonio import jsonable_to_datum  # local import to avoid cycle

    schema = field.schema
    if isinstance(schema, UnionSchema):
        schema = schema.branches[0]
    return jsonable_to_datum(schema, field.default)


def adapt_spark_value(schema: AvroSchema, value: Any) -> Any:
    """Convert a python-mode datum to spark-mode shape (see compile_decoder)."""
    if value is None:
        return None
    if isinstance(schema, UnionSchema):
        non_null = schema.non_null_branches()
        if len(non_null) >= 2:
            # defaults bind to the first branch (spec); tag it as member0
            inner = adapt_spark_value(non_null[0], value)
            return {f"member{k}": (inner if k == 0 else None) for k in range(len(non_null))}
        return adapt_spark_value(non_null[0], value) if non_null else None
    if isinstance(schema, PrimitiveSchema):
        lt = schema.logical
        if lt in ("timestamp-millis", "timestamp-micros") and isinstance(value, dt.datetime):
            if value.tzinfo is not None:
                value = value.astimezone(dt.timezone.utc).replace(tzinfo=None)
            return value
        if lt == "time-millis" and isinstance(value, dt.time):
            return _time_to_micros(value) // 1000
        if lt == "time-micros" and isinstance(value, dt.time):
            return _time_to_micros(value)
        return value
    if isinstance(schema, RecordSchema):
        return {
            f.name: adapt_spark_value(f.schema, value.get(f.name)) for f in schema.fields
        }
    if isinstance(schema, ArraySchema):
        return [adapt_spark_value(schema.items, v) for v in value]
    if isinstance(schema, MapSchema):
        return {k: adapt_spark_value(schema.values, v) for k, v in value.items()}
    return value


# ---------------------------------------------------------------------------
# Resolving decoder: writer schema -> reader schema (schema evolution)
# ---------------------------------------------------------------------------

_PROMOTIONS = {
    # writer type -> reader types it can promote to (Avro spec)
    "int": {"long", "float", "double"},
    "long": {"float", "double"},
    "float": {"double"},
    "string": {"bytes"},
    "bytes": {"string"},
}


def _names_match(w: AvroSchema, r: AvroSchema) -> bool:
    """Record/enum/fixed name match: fullname equal, alias, or equal
    simple name (lenient, matching upstream behavior)."""
    if w.fullname == r.fullname:
        return True
    aliases = getattr(r, "aliases", ())
    if w.fullname in aliases:
        return True
    return getattr(w, "name", None) == getattr(r, "name", None)


def schemas_match(writer: AvroSchema, reader: AvroSchema) -> bool:
    """Can data written with `writer` be read as `reader`? Top-level
    check (reference io.py:680-702 + schema.py match methods)."""
    wt, rt = writer.type, reader.type
    if isinstance(reader, UnionSchema) or isinstance(writer, UnionSchema):
        return True  # branch-level resolution happens at decode
    if wt == rt:
        if isinstance(writer, (RecordSchema, EnumSchema, FixedSchema)):
            if not _names_match(writer, reader):
                return False
            if isinstance(writer, FixedSchema):
                return writer.size == reader.size  # type: ignore[union-attr]
        return True
    return rt in _PROMOTIONS.get(wt, ())


def compile_resolver(writer: AvroSchema, reader: AvroSchema, mode: str = "python") -> DecodeFn:
    """Decode data written with `writer` into `reader`-shaped values.

    ``mode`` as in :func:`compile_decoder`.
    """
    return _compile_res(writer, reader, {"__mode__": mode})


def _compile_res(writer: AvroSchema, reader: AvroSchema, env: dict) -> DecodeFn:
    key = (id(writer), id(reader))
    if key in env:
        return env[key]

    # Union on the writer side: read branch index, resolve branch→reader
    if isinstance(writer, UnionSchema):
        cell: list[DecodeFn] = []
        env[key] = lambda r: cell[0](r)

        def _branch(b: AvroSchema) -> DecodeFn:
            # a branch that can't resolve only errors if data USES it
            try:
                return _compile_res(b, reader, env)
            except SchemaResolutionError as exc:
                msg = str(exc)

                def raise_later(r: BinaryReader, _msg: str = msg) -> Any:
                    raise SchemaResolutionError(_msg)

                return raise_later

        branch_fns = tuple(_branch(b) for b in writer.branches)

        def res_wunion(r: BinaryReader) -> Any:
            i = r.read_long()
            if not 0 <= i < len(branch_fns):
                raise AvroDecodeError(f"union branch {i} out of range")
            return branch_fns[i](r)

        cell.append(res_wunion)
        env[key] = res_wunion
        return res_wunion

    # Union on the reader side only: first reader branch that matches writer
    if isinstance(reader, UnionSchema):
        chosen: Optional[AvroSchema] = None
        chosen_idx = -1
        for i, b in enumerate(reader.branches):
            if schemas_match(writer, b):
                chosen = b
                chosen_idx = i
                break
        if chosen is None:
            raise SchemaResolutionError(
                f"writer {writer.type} matches no branch of reader union"
            )
        inner = _compile_res(writer, chosen, env)
        non_null = reader.non_null_branches()
        if env.get("__mode__", "python") == "spark" and len(non_null) >= 2:
            # general unions surface as member0..N structs in spark mode
            # (mirrors dec_union_members); key the struct by the matched
            # READER branch, not the writer's
            if chosen.type == "null":

                def res_union_null(r: BinaryReader) -> None:
                    inner(r)
                    return None

                return res_union_null
            j = sum(1 for b in reader.branches[:chosen_idx] if b.type != "null")
            members = tuple(f"member{k}" for k in range(len(non_null)))
            name = f"member{j}"

            def res_union_members(r: BinaryReader) -> dict:
                v = inner(r)
                return {m: (v if m == name else None) for m in members}

            return res_union_members
        return inner

    wt, rt = writer.type, reader.type

    mode = env.get("__mode__", "python")

    if wt == rt and isinstance(writer, PrimitiveSchema) and isinstance(reader, PrimitiveSchema):
        # decode with the READER's logical annotation (it governs the
        # in-memory representation the reader expects)
        return _compile_dec(reader, {"__mode__": mode})

    # primitive promotions
    if isinstance(writer, PrimitiveSchema) and isinstance(reader, PrimitiveSchema):
        if rt in _PROMOTIONS.get(wt, ()):
            base = _compile_dec(PrimitiveSchema(type=wt), {"__mode__": mode})
            if rt in ("float", "double") and wt in ("int", "long"):
                return lambda r: float(base(r))
            if rt == "bytes" and wt == "string":
                return lambda r: r.read_bytes()
            if rt == "string" and wt == "bytes":
                def res_b2s(r: BinaryReader) -> str:
                    return r.read_bytes().decode("utf-8")
                return res_b2s
            return base
        raise SchemaResolutionError(f"cannot resolve writer {wt} to reader {rt}")

    if wt != rt:
        raise SchemaResolutionError(f"cannot resolve writer {wt} to reader {rt}")

    if isinstance(writer, FixedSchema) and isinstance(reader, FixedSchema):
        if not _names_match(writer, reader) or writer.size != reader.size:
            raise SchemaResolutionError(
                f"fixed mismatch: {writer.fullname}({writer.size}) vs "
                f"{reader.fullname}({reader.size})"
            )
        return _compile_dec(reader, {"__mode__": mode})

    if isinstance(writer, EnumSchema) and isinstance(reader, EnumSchema):
        if not _names_match(writer, reader):
            raise SchemaResolutionError(
                f"enum name mismatch: {writer.fullname} vs {reader.fullname}"
            )
        rsyms = set(reader.symbols)
        default = reader.default
        wsymbols = writer.symbols

        def res_enum(r: BinaryReader) -> str:
            i = r.read_long()
            if not 0 <= i < len(wsymbols):
                raise AvroDecodeError(f"enum index {i} out of range")
            s = wsymbols[i]
            if s in rsyms:
                return s
            if default is not None:
                return default
            raise SchemaResolutionError(
                f"writer symbol {s!r} absent from reader enum {reader.fullname}"
            )

        return res_enum

    if isinstance(writer, ArraySchema) and isinstance(reader, ArraySchema):
        cell = []
        env[key] = lambda r: cell[0](r)
        item = _compile_res(writer.items, reader.items, env)

        def res_array(r: BinaryReader) -> list:
            out = []
            n = r.read_long()
            while n != 0:
                if n < 0:
                    n = -n
                    r.read_long()
                for _ in range(n):
                    out.append(item(r))
                n = r.read_long()
            return out

        cell.append(res_array)
        env[key] = res_array
        return res_array

    if isinstance(writer, MapSchema) and isinstance(reader, MapSchema):
        cell = []
        env[key] = lambda r: cell[0](r)
        val = _compile_res(writer.values, reader.values, env)

        def res_map(r: BinaryReader) -> dict:
            out = {}
            n = r.read_long()
            while n != 0:
                if n < 0:
                    n = -n
                    r.read_long()
                for _ in range(n):
                    k = r.read_utf8()
                    out[k] = val(r)
                n = r.read_long()
            return out

        cell.append(res_map)
        env[key] = res_map
        return res_map

    if isinstance(writer, RecordSchema) and isinstance(reader, RecordSchema):
        if not _names_match(writer, reader):
            raise SchemaResolutionError(
                f"record name mismatch: {writer.fullname} vs {reader.fullname}"
            )
        cell = []
        env[key] = lambda r: cell[0](r)
        # reader fields by name + aliases
        reader_by_name: dict[str, Field] = {}
        for f in reader.fields:
            reader_by_name[f.name] = f
            for a in f.aliases:
                reader_by_name.setdefault(a, f)
        # plan: for each writer field, either (reader field name, resolver)
        # or (None, skipper)
        steps: list[tuple[Optional[str], Callable]] = []
        matched: set[str] = set()
        for wf in writer.fields:
            rf = reader_by_name.get(wf.name)
            if rf is not None:
                steps.append((rf.name, _compile_res(wf.schema, rf.schema, env)))
                matched.add(rf.name)
            else:
                steps.append((None, _compile_skip(wf.schema, {})))
        defaults: list[tuple[str, Any]] = []
        for rf in reader.fields:
            if rf.name not in matched:
                if not rf.has_default:
                    raise SchemaResolutionError(
                        f"reader field {reader.fullname}.{rf.name} has no "
                        "default and is absent from writer schema"
                    )
                dv = default_value(rf)
                if mode == "spark":
                    dv = adapt_spark_value(rf.schema, dv)
                defaults.append((rf.name, dv))
        steps_t = tuple(steps)
        defaults_t = tuple(defaults)

        def res_record(r: BinaryReader) -> dict:
            out = {}
            for name, fn in steps_t:
                if name is None:
                    fn(r)
                else:
                    out[name] = fn(r)
            for name, v in defaults_t:
                out[name] = v
            return out

        cell.append(res_record)
        env[key] = res_record
        return res_record

    raise SchemaResolutionError(f"cannot resolve writer {wt} to reader {rt}")


# ---------------------------------------------------------------------------
# Datum validation (reference io.py:108-199) + one-shot helpers
# ---------------------------------------------------------------------------


def validate(schema: AvroSchema, datum: Any, raise_on_error: bool = False) -> bool:
    """Does ``datum`` conform to ``schema``? Uses the encoder, which
    performs exactly the spec's conformance checks."""
    try:
        encode_datum(schema, datum)
        return True
    except AvroEncodeError:
        if raise_on_error:
            raise
        return False


def decode_datum(schema: AvroSchema, data: bytes, reader_schema: Optional[AvroSchema] = None) -> Any:
    """One-shot decode (compiles per call — use compile_* in loops)."""
    fn = compile_resolver(schema, reader_schema) if reader_schema is not None else compile_decoder(schema)
    return fn(BinaryReader(data))


def encode_datum(schema: AvroSchema, datum: Any) -> bytes:
    """One-shot encode (compiles per call — use compile_* in loops)."""
    w = BinaryWriter()
    compile_encoder(schema)(w, datum)
    return w.getvalue()

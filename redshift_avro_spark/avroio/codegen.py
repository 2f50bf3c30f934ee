"""Exec-compiled batch codecs: the Avro datum hot path, vectorized.

:mod:`binary` compiles a *closure tree* (one Python callable per schema
node) — correct, but on a 100 TB decode the per-row cost is dominated by
call overhead and ``BinaryReader`` attribute traffic. This module
generates ONE flat Python function per schema (``exec`` of generated
source): varint/zigzag/string reads inlined on local variables, no
reader object, no per-field calls, and output assembled directly into
per-field column lists (no rows-of-dicts pivot).

Semantics are identical to the closure codecs (reference
io.py:235-1337 parity lives there; this changes only the execution
strategy). Guarantees:

- Any subtree the emitter can't inline (recursive named types, general
  unions on encode, oversized generated bodies) falls back to the
  closure codec for that subtree via a BinaryReader/BinaryWriter shim —
  coverage is total.
- Any unexpected codegen failure makes ``get_batch_decoder`` /
  ``get_batch_encoder`` return ``None`` and the decoder ladder
  (:mod:`.ladder`) uses the closure path — a generator bug degrades to
  slow, never to wrong.

Decoders emit Spark-mode values only (the values Spark's Arrow types
take: naive-UTC datetimes, member-struct unions, time logical types as
raw ints); python-mode values stay with the closures.

Entry points (lru-cached per schema JSON, so each executor process
compiles once per schema):

- :func:`get_batch_decoder` / :func:`get_batch_resolver` →
  :class:`BatchDecoder` with ``decode_blobs`` (one datum per blob →
  columns), ``decode_stream`` (N consecutive datums from one buffer →
  columns, for container blocks) and ``column_array`` (one column →
  a pyarrow Array of Spark's Arrow type).
- :func:`get_batch_encoder` → :class:`BatchEncoder` with
  ``columns_from_arrow`` (a RecordBatch → per-field value lists) and
  ``encode_columns`` (per-field value lists → list of datum bytes).
"""

from __future__ import annotations

import datetime as dt
import struct
import uuid as uuid_mod
from functools import lru_cache
from typing import Any, Callable, Optional

from .binary import (
    _BOOL_TYPES,
    _EPOCH_DATE,
    _EPOCH_NAIVE,
    _FLOAT_TYPES,
    _INT_TYPES,
    _PROMOTIONS,
    _STRUCT_D,
    _STRUCT_F,
    INT_MAX,
    INT_MIN,
    LONG_MAX,
    LONG_MIN,
    AvroDecodeError,
    AvroEncodeError,
    BinaryReader,
    BinaryWriter,
    SchemaResolutionError,
    _compile_dec,
    _compile_enc,
    _compile_res,
    _compile_skip,
    _names_match,
    adapt_spark_value,
    schemas_match,
    _time_to_micros,
    _ts_to_micros,
    _unscaled_from_decimal,
    default_value,
)
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
    parse_schema,
)

__all__ = [
    "BatchDecoder",
    "BatchEncoder",
    "get_batch_decoder",
    "get_batch_encoder",
    "get_batch_resolver",
]

_MAX_BODY_LINES = 4000


class _Unsupported(Exception):
    """Subtree can't be inlined; emitter switches to closure fallback."""


def _base_env() -> dict:
    from decimal import Decimal

    return {
        "_ADE": AvroDecodeError,
        "_SE": struct.error,
        "_AEE": AvroEncodeError,
        "_SRE": SchemaResolutionError,
        "_BR": BinaryReader,
        "_BW": BinaryWriter,
        "_upf_f": _STRUCT_F.unpack_from,
        "_upf_d": _STRUCT_D.unpack_from,
        "_pk_f": _STRUCT_F.pack,
        "_pk_d": _STRUCT_D.pack,
        "_Decimal": Decimal,
        "_dfo": dt.date.fromordinal,
        "_td": dt.timedelta,
        "_dtdt": dt.datetime,
        "_dtd": dt.date,
        "_dtt": dt.time,
        "_UUID": uuid_mod.UUID,
        "_EPN": _EPOCH_NAIVE,
        "_EO": _EPOCH_DATE.toordinal(),
        "_t2mic": _time_to_micros,
        "_ts2mic": _ts_to_micros,
        "_unscaled": _unscaled_from_decimal,
        "_INT_T": _INT_TYPES,
        "_FLT_T": _INT_TYPES + _FLOAT_TYPES,
        "_BOOL_T": _BOOL_TYPES,
        "_MISS": object(),
    }


class _Emitter:
    """Shared plumbing: indented line buffer + env-constant interning."""

    def __init__(self) -> None:
        self.lines: list[str] = []
        self.env = _base_env()
        self._n = 0
        self._in_progress: set[int] = set()

    def tmp(self) -> str:
        self._n += 1
        return f"_t{self._n}"

    def w(self, ind: int, line: str) -> None:
        if len(self.lines) > _MAX_BODY_LINES:
            raise _Unsupported("generated body too large")
        self.lines.append("    " * ind + line)

    def const(self, prefix: str, obj: Any) -> str:
        name = f"_{prefix}{len(self.env)}"
        self.env[name] = obj
        return name


# ---------------------------------------------------------------------------
# Decoder emission
# ---------------------------------------------------------------------------


class _DecEmitter(_Emitter):
    """Emits top-level-column timestamps as raw epoch ints
    (micros/millis) instead of datetime objects —
    :meth:`BatchDecoder.column_array` views a whole column as an Arrow
    timestamp array, skipping per-row datetime construction. Only where
    the value lands directly in a column: the ``raw`` flag threads
    through nullable unions but goes False inside records,
    member-structs, arrays and maps, whose dict/list payloads carry
    datetime objects."""

    def varint(self, ind: int, dst: str) -> None:
        """Zigzag varint → signed int in ``dst`` (replica of
        BinaryReader.read_long with a 1-byte fast path; IndexError maps
        to 'truncated varint' at the entry-point level)."""
        w = self.w
        w(ind, "_b = data[pos]; pos += 1")
        w(ind, "if _b < 0x80:")
        w(ind + 1, f"{dst} = (_b >> 1) ^ -(_b & 1)")
        w(ind, "else:")
        w(ind + 1, "_n = _b & 0x7F")
        w(ind + 1, "_s = 7")
        w(ind + 1, "_b = data[pos]; pos += 1")
        w(ind + 1, "_n |= (_b & 0x7F) << _s")
        w(ind + 1, "_s += 7")
        w(ind + 1, "while _b & 0x80:")
        w(ind + 2, "_b = data[pos]; pos += 1")
        w(ind + 2, "_n |= (_b & 0x7F) << _s")
        w(ind + 2, "_s += 7")
        w(ind + 1, f"{dst} = (_n >> 1) ^ -(_n & 1)")

    def length_prefixed(self, ind: int, dst_expr: Callable[[str, str], str]) -> None:
        """Read zigzag length + bounds-check + hand (start, end) to
        ``dst_expr`` which returns the assignment line."""
        n = self.tmp()
        e = self.tmp()
        self.varint(ind, n)
        self.w(ind, f"if {n} < 0:")
        self.w(ind + 1, f'raise _ADE("negative bytes length: %d" % {n})')
        self.w(ind, f"{e} = pos + {n}")
        self.w(ind, f"if {e} > L:")
        self.w(ind + 1, 'raise _ADE("truncated input")')
        self.w(ind, dst_expr("pos", e))
        self.w(ind, f"pos = {e}")

    def fallback(self, ind: int, schema: AvroSchema, dst: str) -> None:
        fb = self.const("fb", _compile_dec(schema, {"__mode__": "spark"}))
        r = self.tmp()
        self.w(ind, f"{r} = _BR(data, pos)")
        self.w(ind, f"{dst} = {fb}({r})")
        self.w(ind, f"pos = {r}.pos")

    def emit(self, s: AvroSchema, dst: str, ind: int, raw: bool = False) -> None:
        w = self.w
        if isinstance(s, PrimitiveSchema):
            t, lt = s.type, s.logical
            if lt is None:
                if t == "null":
                    w(ind, f"{dst} = None")
                elif t == "boolean":
                    w(ind, "if pos >= L:")
                    w(ind + 1, 'raise _ADE("truncated input")')
                    w(ind, f"{dst} = data[pos] != 0; pos += 1")
                elif t in ("int", "long"):
                    self.varint(ind, dst)
                elif t == "float":
                    w(ind, f"{dst} = _upf_f(data, pos)[0]; pos += 4")
                elif t == "double":
                    w(ind, f"{dst} = _upf_d(data, pos)[0]; pos += 8")
                elif t == "bytes":
                    self.length_prefixed(ind, lambda a, b: f"{dst} = data[{a}:{b}]")
                elif t == "string":
                    self.length_prefixed(
                        ind, lambda a, b: f'{dst} = data[{a}:{b}].decode("utf-8")'
                    )
                else:  # pragma: no cover
                    raise _Unsupported(t)
                return
            if lt == "decimal":
                self.length_prefixed(
                    ind,
                    lambda a, b: f'{dst} = _Decimal(int.from_bytes(data[{a}:{b}], "big", signed=True)).scaleb({-s.scale})',
                )
                return
            if lt == "date":
                v = self.tmp()
                self.varint(ind, v)
                w(ind, f"{dst} = _dfo(_EO + {v})")
                return
            if lt in ("time-millis", "time-micros"):
                self.varint(ind, dst)
                return
            if lt in ("timestamp-millis", "timestamp-micros"):
                if raw:
                    self.varint(ind, dst)
                    return
                v = self.tmp()
                self.varint(ind, v)
                unit = "milliseconds" if lt == "timestamp-millis" else "microseconds"
                w(ind, f"{dst} = _EPN + _td({unit}={v})")
                return
            if lt == "uuid":
                self.length_prefixed(
                    ind, lambda a, b: f'{dst} = data[{a}:{b}].decode("utf-8")'
                )
                return
            raise _Unsupported(f"logical {lt}")

        if isinstance(s, FixedSchema):
            size = s.size
            e = self.tmp()
            w(ind, f"{e} = pos + {size}")
            w(ind, f"if {e} > L:")
            w(ind + 1, 'raise _ADE("truncated input")')
            if s.logical == "decimal":
                w(
                    ind,
                    f'{dst} = _Decimal(int.from_bytes(data[pos:{e}], "big", signed=True)).scaleb({-s.scale})',
                )
            else:
                w(ind, f"{dst} = data[pos:{e}]")
            w(ind, f"pos = {e}")
            return

        if isinstance(s, EnumSchema):
            sym = self.const("sym", tuple(s.symbols))
            i = self.tmp()
            self.varint(ind, i)
            w(ind, f"if not 0 <= {i} < {len(s.symbols)}:")
            w(ind + 1, f'raise _ADE("enum index %d out of range for %r" % ({i}, {sym}))')
            w(ind, f"{dst} = {sym}[{i}]")
            return

        if isinstance(s, ArraySchema):
            n = self.tmp()
            item = self.tmp()
            ap = self.tmp()
            sz = self.tmp()
            w(ind, f"{dst} = []")
            w(ind, f"{ap} = {dst}.append")
            self.varint(ind, n)
            w(ind, f"while {n} != 0:")
            w(ind + 1, f"if {n} < 0:")
            w(ind + 2, f"{n} = -{n}")
            self.varint(ind + 2, sz)  # byte-size hint, discarded
            w(ind + 1, f"for _ in range({n}):")
            self.emit(s.items, item, ind + 2)
            self.w(ind + 2, f"{ap}({item})")
            self.varint(ind + 1, n)
            return

        if isinstance(s, MapSchema):
            n = self.tmp()
            k = self.tmp()
            val = self.tmp()
            sz = self.tmp()
            w(ind, f"{dst} = {{}}")
            self.varint(ind, n)
            w(ind, f"while {n} != 0:")
            w(ind + 1, f"if {n} < 0:")
            w(ind + 2, f"{n} = -{n}")
            self.varint(ind + 2, sz)
            w(ind + 1, f"for _ in range({n}):")
            self.length_prefixed(
                ind + 2, lambda a, b: f'{k} = data[{a}:{b}].decode("utf-8")'
            )
            self.emit(s.values, val, ind + 2)
            self.w(ind + 2, f"{dst}[{k}] = {val}")
            self.varint(ind + 1, n)
            return

        if isinstance(s, UnionSchema):
            i = self.tmp()
            self.varint(ind, i)
            non_null = s.non_null_branches()
            member_struct = len(non_null) >= 2
            members = [f"member{j}" for j in range(len(non_null))]
            v = self.tmp()
            kw = "if"
            j = 0
            for bi, b in enumerate(s.branches):
                w(ind, f"{kw} {i} == {bi}:")
                kw = "elif"
                if b.type == "null":
                    w(ind + 1, f"{dst} = None")
                    continue
                if member_struct:
                    self.emit(b, v, ind + 1, raw=False)
                    parts = ", ".join(
                        f"{m!r}: {v if jj == j else 'None'}" for jj, m in enumerate(members)
                    )
                    w(ind + 1, f"{dst} = {{{parts}}}")
                    j += 1
                else:
                    # nullable-single union: branch value lands directly
                    # in the column, so raw-ts may thread through (multi-
                    # branch bare unions could mix int-typed branches with
                    # raw timestamps — keep those as datetimes)
                    self.emit(b, dst, ind + 1, raw=raw and len(non_null) == 1)
            w(ind, "else:")
            w(ind + 1, f'raise _ADE("union branch %d out of range" % {i})')
            return

        if isinstance(s, RecordSchema):
            if id(s) in self._in_progress:  # recursive type → closure fallback
                self.fallback(ind, s, dst)
                return
            self._in_progress.add(id(s))
            try:
                fvars = []
                for f in s.fields:
                    fv = self.tmp()
                    self.emit(f.schema, fv, ind)
                    fvars.append(fv)
                parts = ", ".join(
                    f"{f.name!r}: {fv}" for f, fv in zip(s.fields, fvars)
                )
                w(ind, f"{dst} = {{{parts}}}")
            finally:
                self._in_progress.discard(id(s))
            return

        raise _Unsupported(repr(s))


# ---------------------------------------------------------------------------
# Resolver emission (schema evolution: writer bytes -> reader values)
# ---------------------------------------------------------------------------


class _ResEmitter(_DecEmitter):
    """Two-schema emitter: decode writer-shaped bytes into reader-shaped
    values — the generated twin of :func:`binary._compile_res` (Avro
    resolution rules: promotions, writer-union branch dispatch, reader
    defaults, enum symbol remap, skipped writer-only fields). Semantics
    mirror the closure resolver exactly; compile-time resolution
    failures raise :class:`SchemaResolutionError` just like
    ``compile_resolver`` would (writer-union branches defer the raise to
    runtime — a branch that can't resolve only errors if data uses it)."""

    def res_fallback(self, ind: int, writer: AvroSchema, reader: AvroSchema, dst: str) -> None:
        fb = self.const("frb", _compile_res(writer, reader, {"__mode__": "spark"}))
        r = self.tmp()
        self.w(ind, f"{r} = _BR(data, pos)")
        self.w(ind, f"{dst} = {fb}({r})")
        self.w(ind, f"pos = {r}.pos")

    # -- skips (writer-only fields; wire format depends on base type only)

    def skip_varint(self, ind: int) -> None:
        self.w(ind, "while data[pos] >= 0x80:")
        self.w(ind + 1, "pos += 1")
        self.w(ind, "pos += 1")

    def skip_len_prefixed(self, ind: int) -> None:
        n = self.tmp()
        self.varint(ind, n)
        self.w(ind, f"if {n} < 0:")
        self.w(ind + 1, f'raise _ADE("negative bytes length: %d" % {n})')
        self.w(ind, f"pos += {n}")
        self.w(ind, "if pos > L:")
        self.w(ind + 1, 'raise _ADE("truncated input")')

    def emit_skip(self, s: AvroSchema, ind: int) -> None:
        w = self.w
        if isinstance(s, PrimitiveSchema):
            t = s.type
            if t == "null":
                return
            if t == "boolean":
                w(ind, "pos += 1")
            elif t in ("int", "long"):
                self.skip_varint(ind)
            elif t == "float":
                w(ind, "pos += 4")
            elif t == "double":
                w(ind, "pos += 8")
            elif t in ("bytes", "string"):
                self.skip_len_prefixed(ind)
            else:  # pragma: no cover
                raise _Unsupported(t)
            return
        if isinstance(s, FixedSchema):
            w(ind, f"pos += {s.size}")
            return
        if isinstance(s, EnumSchema):
            self.skip_varint(ind)
            return
        if isinstance(s, (ArraySchema, MapSchema)):
            # negative block count carries a byte size — skip whole block
            n = self.tmp()
            sz = self.tmp()
            self.varint(ind, n)
            w(ind, f"while {n} != 0:")
            w(ind + 1, f"if {n} < 0:")
            self.varint(ind + 2, sz)
            w(ind + 2, f"if {sz} < 0:")
            w(ind + 3, f'raise _ADE("negative block size: %d" % {sz})')
            w(ind + 2, f"pos += {sz}")
            w(ind + 2, "if pos > L:")
            w(ind + 3, 'raise _ADE("truncated input")')
            w(ind + 1, "else:")
            w(ind + 2, f"for _ in range({n}):")
            if isinstance(s, MapSchema):
                self.skip_len_prefixed(ind + 3)
                self.emit_skip(s.values, ind + 3)
            else:
                self.emit_skip(s.items, ind + 3)
            self.varint(ind + 1, n)
            return
        if isinstance(s, UnionSchema):
            i = self.tmp()
            self.varint(ind, i)
            kw = "if"
            for bi, b in enumerate(s.branches):
                w(ind, f"{kw} {i} == {bi}:")
                kw = "elif"
                mark = len(self.lines)
                self.emit_skip(b, ind + 1)
                if len(self.lines) == mark:  # null branch: nothing to skip
                    w(ind + 1, "pass")
            w(ind, "else:")
            w(ind + 1, f'raise _ADE("union branch %d out of range" % {i})')
            return
        if isinstance(s, RecordSchema):
            if id(s) in self._in_progress:  # recursive: closure skip
                fbs = self.const("fsk", _compile_skip(s, {}))
                r = self.tmp()
                self.w(ind, f"{r} = _BR(data, pos)")
                self.w(ind, f"{fbs}({r})")
                self.w(ind, f"pos = {r}.pos")
                return
            self._in_progress.add(id(s))
            try:
                for f in s.fields:
                    self.emit_skip(f.schema, ind)
            finally:
                self._in_progress.discard(id(s))
            return
        raise _Unsupported(repr(s))  # pragma: no cover

    # -- resolution

    def emit_res(
        self, w_s: AvroSchema, r_s: AvroSchema, dst: str, ind: int, raw: bool = False
    ) -> None:
        w = self.w

        # writer union: read branch index, resolve each branch to reader
        if isinstance(w_s, UnionSchema):
            i = self.tmp()
            self.varint(ind, i)
            kw = "if"
            for bi, b in enumerate(w_s.branches):
                w(ind, f"{kw} {i} == {bi}:")
                kw = "elif"
                mark = len(self.lines)
                try:
                    self.emit_res(b, r_s, dst, ind + 1, raw=raw)
                except SchemaResolutionError as exc:
                    del self.lines[mark:]
                    msg = self.const("msg", str(exc))
                    w(ind + 1, f"raise _SRE({msg})")
            w(ind, "else:")
            w(ind + 1, f'raise _ADE("union branch %d out of range" % {i})')
            return

        # reader union only: first reader branch the writer matches
        if isinstance(r_s, UnionSchema):
            chosen: Optional[AvroSchema] = None
            chosen_idx = -1
            for bi, b in enumerate(r_s.branches):
                if schemas_match(w_s, b):
                    chosen, chosen_idx = b, bi
                    break
            if chosen is None:
                raise SchemaResolutionError(
                    f"writer {w_s.type} matches no branch of reader union"
                )
            non_null = r_s.non_null_branches()
            if len(non_null) >= 2:
                if chosen.type == "null":
                    w(ind, f"{dst} = None")
                    return
                j = sum(1 for b in r_s.branches[:chosen_idx] if b.type != "null")
                members = [f"member{k}" for k in range(len(non_null))]
                v = self.tmp()
                self.emit_res(w_s, chosen, v, ind, raw=False)
                parts = ", ".join(
                    f"{m!r}: {v if k == j else 'None'}" for k, m in enumerate(members)
                )
                w(ind, f"{dst} = {{{parts}}}")
                return
            self.emit_res(w_s, chosen, dst, ind, raw=raw and len(non_null) == 1)
            return

        # primitives: same type -> reader decode (reader logical governs);
        # different -> spec promotion on the writer's wire format
        if isinstance(w_s, PrimitiveSchema) and isinstance(r_s, PrimitiveSchema):
            wt, rt = w_s.type, r_s.type
            if wt == rt:
                self.emit(r_s, dst, ind, raw=raw)
                return
            if rt in _PROMOTIONS.get(wt, ()):
                if wt in ("int", "long") and rt == "long":
                    self.varint(ind, dst)
                elif wt in ("int", "long") and rt in ("float", "double"):
                    v = self.tmp()
                    self.varint(ind, v)
                    w(ind, f"{dst} = float({v})")
                elif wt == "float" and rt == "double":
                    w(ind, f"{dst} = _upf_f(data, pos)[0]; pos += 4")
                elif wt == "string" and rt == "bytes":
                    self.length_prefixed(ind, lambda a, b: f"{dst} = data[{a}:{b}]")
                elif wt == "bytes" and rt == "string":
                    self.length_prefixed(
                        ind, lambda a, b: f'{dst} = data[{a}:{b}].decode("utf-8")'
                    )
                else:  # pragma: no cover
                    raise _Unsupported(f"promotion {wt}->{rt}")
                return
            raise SchemaResolutionError(f"cannot resolve writer {wt} to reader {rt}")

        if w_s.type != r_s.type:
            raise SchemaResolutionError(
                f"cannot resolve writer {w_s.type} to reader {r_s.type}"
            )

        if isinstance(w_s, FixedSchema) and isinstance(r_s, FixedSchema):
            if not _names_match(w_s, r_s) or w_s.size != r_s.size:
                raise SchemaResolutionError(
                    f"fixed mismatch: {w_s.fullname}({w_s.size}) vs "
                    f"{r_s.fullname}({r_s.size})"
                )
            self.emit(r_s, dst, ind)
            return

        if isinstance(w_s, EnumSchema) and isinstance(r_s, EnumSchema):
            if not _names_match(w_s, r_s):
                raise SchemaResolutionError(
                    f"enum name mismatch: {w_s.fullname} vs {r_s.fullname}"
                )
            rsyms = set(r_s.symbols)
            # writer index -> reader symbol (or reader default; None = error)
            table = tuple(
                sym if sym in rsyms else r_s.default for sym in w_s.symbols
            )
            tname = self.const("rsym", table)
            i = self.tmp()
            self.varint(ind, i)
            w(ind, f"if not 0 <= {i} < {len(table)}:")
            w(ind + 1, f'raise _ADE("enum index %d out of range" % {i})')
            w(ind, f"{dst} = {tname}[{i}]")
            if any(v is None for v in table):
                w(ind, f"if {dst} is None:")
                w(
                    ind + 1,
                    f'raise _SRE("writer symbol absent from reader enum {r_s.fullname}")',
                )
            return

        if isinstance(w_s, ArraySchema) and isinstance(r_s, ArraySchema):
            n = self.tmp()
            item = self.tmp()
            ap = self.tmp()
            sz = self.tmp()
            w(ind, f"{dst} = []")
            w(ind, f"{ap} = {dst}.append")
            self.varint(ind, n)
            w(ind, f"while {n} != 0:")
            w(ind + 1, f"if {n} < 0:")
            w(ind + 2, f"{n} = -{n}")
            self.varint(ind + 2, sz)
            w(ind + 1, f"for _ in range({n}):")
            self.emit_res(w_s.items, r_s.items, item, ind + 2)
            self.w(ind + 2, f"{ap}({item})")
            self.varint(ind + 1, n)
            return

        if isinstance(w_s, MapSchema) and isinstance(r_s, MapSchema):
            n = self.tmp()
            k = self.tmp()
            val = self.tmp()
            sz = self.tmp()
            w(ind, f"{dst} = {{}}")
            self.varint(ind, n)
            w(ind, f"while {n} != 0:")
            w(ind + 1, f"if {n} < 0:")
            w(ind + 2, f"{n} = -{n}")
            self.varint(ind + 2, sz)
            w(ind + 1, f"for _ in range({n}):")
            self.length_prefixed(
                ind + 2, lambda a, b: f'{k} = data[{a}:{b}].decode("utf-8")'
            )
            self.emit_res(w_s.values, r_s.values, val, ind + 2)
            self.w(ind + 2, f"{dst}[{k}] = {val}")
            self.varint(ind + 1, n)
            return

        if isinstance(w_s, RecordSchema) and isinstance(r_s, RecordSchema):
            if not _names_match(w_s, r_s):
                raise SchemaResolutionError(
                    f"record name mismatch: {w_s.fullname} vs {r_s.fullname}"
                )
            key = (id(w_s), id(r_s))
            if key in self._in_progress:
                self.res_fallback(ind, w_s, r_s, dst)
                return
            self._in_progress.add(key)
            try:
                out_vars = _emit_res_fields(self, w_s, r_s, ind)
                w(ind, f"{dst} = {{{', '.join(f'{n!r}: {v}' for n, v in out_vars)}}}")
            finally:
                self._in_progress.discard(key)
            return

        raise SchemaResolutionError(
            f"cannot resolve writer {w_s.type} to reader {r_s.type}"
        )  # pragma: no cover


def _emit_res_fields(
    em: _ResEmitter, writer: RecordSchema, reader: RecordSchema, ind: int, raw: bool = False
) -> list[tuple[str, str]]:
    """Emit the record-resolution plan: writer fields in writer order
    (matched -> decode into a var, unmatched -> skip), then reader-only
    defaults as interned constants. Returns (reader field name, var/const
    expr) in READER field order. Raises SchemaResolutionError exactly
    where the closure resolver would."""
    reader_by_name: dict[str, Field] = {}
    for f in reader.fields:
        reader_by_name[f.name] = f
        for a in f.aliases:
            reader_by_name.setdefault(a, f)
    by_reader: dict[str, str] = {}
    for wf in writer.fields:
        rf = reader_by_name.get(wf.name)
        if rf is not None:
            # two writer fields mapping to one reader slot (name + alias):
            # later decode wins, matching the closure resolver
            fv = em.tmp()
            em.emit_res(wf.schema, rf.schema, fv, ind, raw=raw)
            by_reader[rf.name] = fv
        else:
            em.emit_skip(wf.schema, ind)
    out: list[tuple[str, str]] = []
    for rf in reader.fields:
        v = by_reader.get(rf.name)
        if v is None:
            if not rf.has_default:
                raise SchemaResolutionError(
                    f"reader field {reader.fullname}.{rf.name} has no "
                    "default and is absent from writer schema"
                )
            v = em.const("df", adapt_spark_value(rf.schema, default_value(rf)))
        out.append((rf.name, v))
    return out


# ---------------------------------------------------------------------------
# Encoder emission
# ---------------------------------------------------------------------------


class _EncEmitter(_Emitter):
    def uvarint(self, ind: int, src: str) -> None:
        """Emit varint of an already-zigzagged NON-NEGATIVE value."""
        w = self.w
        w(ind, f"if {src} < 0x80:")
        w(ind + 1, f"_ba({src})")
        w(ind, "else:")
        w(ind + 1, f"while {src} > 0x7F:")
        w(ind + 2, f"_ba(({src} & 0x7F) | 0x80)")
        w(ind + 2, f"{src} >>= 7")
        w(ind + 1, f"_ba({src})")

    def varint_of(self, ind: int, expr: str) -> None:
        """Zigzag + varint of a signed int expression."""
        n = self.tmp()
        self.w(ind, f"{n} = ({expr} << 1) ^ ({expr} >> 63)")
        self.uvarint(ind, n)

    def zz_literal(self, i: int) -> bytes:
        n = (i << 1) ^ (i >> 63)
        out = bytearray()
        while n > 0x7F:
            out.append((n & 0x7F) | 0x80)
            n >>= 7
        out.append(n)
        return bytes(out)

    def emit_index(self, ind: int, i: int) -> None:
        lit = self.zz_literal(i)
        if len(lit) == 1:
            self.w(ind, f"_ba({lit[0]})")
        else:
            self.w(ind, f"_be({lit!r})")

    def fallback(self, ind: int, schema: AvroSchema, src: str) -> None:
        fb = self.const("fe", _compile_enc(schema, {}))
        ww = self.tmp()
        self.w(ind, f"{ww} = _BW()")
        self.w(ind, f"{fb}({ww}, {src})")
        self.w(ind, f"_be({ww}.getvalue())")

    def emit(self, s: AvroSchema, src: str, ind: int) -> None:
        w = self.w
        if isinstance(s, PrimitiveSchema):
            t, lt = s.type, s.logical
            if lt is None:
                if t == "null":
                    w(ind, f"if {src} is not None:")
                    w(ind + 1, f'raise _AEE("null schema got %r" % ({src},))')
                elif t == "boolean":
                    w(ind, f"if not isinstance({src}, _BOOL_T):")
                    w(ind + 1, f'raise _AEE("boolean schema got %r" % ({src},))')
                    w(ind, f"_ba(1 if {src} else 0)")
                elif t in ("int", "long"):
                    lo, hi = (INT_MIN, INT_MAX) if t == "int" else (LONG_MIN, LONG_MAX)
                    w(ind, f"if isinstance({src}, _BOOL_T) or not isinstance({src}, _INT_T):")
                    w(ind + 1, f'raise _AEE("{t} schema got %r" % ({src},))')
                    w(ind, f"{src} = int({src})")
                    w(ind, f"if not {lo} <= {src} <= {hi}:")
                    w(ind + 1, f'raise _AEE("%d out of range for {t}" % {src})')
                    self.varint_of(ind, src)
                elif t in ("float", "double"):
                    pk = "_pk_f" if t == "float" else "_pk_d"
                    w(ind, f"if not isinstance({src}, _FLT_T) or isinstance({src}, _BOOL_T):")
                    w(ind + 1, f'raise _AEE("{t} schema got %r" % ({src},))')
                    w(ind, f"_be({pk}(float({src})))")
                elif t == "bytes":
                    n = self.tmp()
                    w(ind, f"if not isinstance({src}, (bytes, bytearray, memoryview)):")
                    w(ind + 1, f'raise _AEE("bytes schema got %r" % ({src},))')
                    w(ind, f"{n} = len({src}) << 1")
                    self.uvarint(ind, n)
                    w(ind, f"_be({src})")
                elif t == "string":
                    b = self.tmp()
                    n = self.tmp()
                    w(ind, f"if not isinstance({src}, str):")
                    w(ind + 1, f'raise _AEE("string schema got %r" % ({src},))')
                    w(ind, f'{b} = {src}.encode("utf-8")')
                    w(ind, f"{n} = len({b}) << 1")
                    self.uvarint(ind, n)
                    w(ind, f"_be({b})")
                else:  # pragma: no cover
                    raise _Unsupported(t)
                return
            if lt == "decimal":
                u = self.tmp()
                b = self.tmp()
                n = self.tmp()
                w(ind, f'{u} = _unscaled({src}, {s.scale}, "decimal(bytes)")')
                w(
                    ind,
                    f'{b} = {u}.to_bytes((({u} if {u} >= 0 else ~{u}).bit_length() // 8) + 1, "big", signed=True)',
                )
                w(ind, f"{n} = len({b}) << 1")
                self.uvarint(ind, n)
                w(ind, f"_be({b})")
                return
            if lt == "date":
                n = self.tmp()
                w(ind, f"if isinstance({src}, _dtdt):")
                w(ind + 1, f"{src} = {src}.date()")
                w(ind, f"if isinstance({src}, _dtd):")
                w(ind + 1, f"{n} = {src}.toordinal() - _EO")
                w(ind, f"elif isinstance({src}, _INT_T):")
                w(ind + 1, f"{n} = int({src})")
                w(ind, "else:")
                w(ind + 1, f'raise _AEE("date schema got %r" % ({src},))')
                self.varint_of(ind, n)
                return
            if lt in ("time-millis", "time-micros"):
                n = self.tmp()
                w(ind, f"if isinstance({src}, _dtt):")
                div = " // 1000" if lt == "time-millis" else ""
                w(ind + 1, f"{n} = _t2mic({src}){div}")
                w(ind, f"elif isinstance({src}, _INT_T):")
                w(ind + 1, f"{n} = int({src})")
                w(ind, "else:")
                w(ind + 1, f'raise _AEE("{lt} schema got %r" % ({src},))')
                self.varint_of(ind, n)
                return
            if lt in ("timestamp-millis", "timestamp-micros"):
                n = self.tmp()
                d = self.tmp()
                div = " // 1000" if lt == "timestamp-millis" else ""
                w(ind, f"if isinstance({src}, _dtdt) and {src}.tzinfo is None:")
                w(ind + 1, f"{d} = {src} - _EPN")
                w(
                    ind + 1,
                    f"{n} = (({d}.days * 86400 + {d}.seconds) * 1000000 + {d}.microseconds){div}",
                )
                w(ind, "else:")
                w(ind + 1, f'{n} = _ts2mic({src}, "{lt}"){div}')
                self.varint_of(ind, n)
                return
            if lt == "uuid":
                b = self.tmp()
                n = self.tmp()
                w(ind, f"if isinstance({src}, _UUID):")
                w(ind + 1, f"{src} = str({src})")
                w(ind, f"if not isinstance({src}, str):")
                w(ind + 1, f'raise _AEE("uuid schema got %r" % ({src},))')
                w(ind, f'{b} = {src}.encode("utf-8")')
                w(ind, f"{n} = len({b}) << 1")
                self.uvarint(ind, n)
                w(ind, f"_be({b})")
                return
            raise _Unsupported(f"logical {lt}")

        if isinstance(s, FixedSchema):
            if s.logical == "decimal":
                u = self.tmp()
                b = self.tmp()
                w(ind, f'{u} = _unscaled({src}, {s.scale}, "decimal(fixed({s.size}))")')
                w(ind, "try:")
                w(ind + 1, f'{b} = {u}.to_bytes({s.size}, "big", signed=True)')
                w(ind, "except OverflowError:")
                w(ind + 1, f'raise _AEE("%s does not fit fixed({s.size})" % ({src},)) from None')
                w(ind, f"_be({b})")
                return
            w(
                ind,
                f"if not isinstance({src}, (bytes, bytearray, memoryview)) or len({src}) != {s.size}:",
            )
            w(ind + 1, f'raise _AEE("fixed({s.size}) schema got %r" % ({src},))')
            w(ind, f"_be({src})")
            return

        if isinstance(s, EnumSchema):
            # symbol → precomputed varint bytes
            table = {sym: self.zz_literal(i) for i, sym in enumerate(s.symbols)}
            tname = self.const("ezz", table)
            b = self.tmp()
            w(ind, f"{b} = {tname}.get({src})")
            w(ind, f"if {b} is None:")
            w(ind + 1, f'raise _AEE("%r is not a symbol of enum {s.fullname}" % ({src},))')
            w(ind, f"_be({b})")
            return

        if isinstance(s, ArraySchema):
            item = self.tmp()
            n = self.tmp()
            w(
                ind,
                f"if {src} is None or isinstance({src}, (str, bytes, dict)) or not hasattr({src}, '__iter__'):",
            )
            w(ind + 1, f'raise _AEE("array schema got %r" % ({src},))')
            w(ind, f"{src} = list({src})")
            w(ind, f"if {src}:")
            w(ind + 1, f"{n} = len({src}) << 1")
            self.uvarint(ind + 1, n)
            w(ind + 1, f"for {item} in {src}:")
            self.emit(s.items, item, ind + 2)
            w(ind, "_ba(0)")
            return

        if isinstance(s, MapSchema):
            items = self.tmp()
            k = self.tmp()
            mv = self.tmp()
            kb = self.tmp()
            n = self.tmp()
            w(ind, f"if isinstance({src}, dict):")
            w(ind + 1, f"{items} = list({src}.items())")
            w(ind, f"elif isinstance({src}, (list, tuple)):")
            w(ind + 1, f"{items} = list({src})")
            w(ind, "else:")
            w(ind + 1, f'raise _AEE("map schema got %r" % ({src},))')
            w(ind, f"if {items}:")
            w(ind + 1, f"{n} = len({items}) << 1")
            self.uvarint(ind + 1, n)
            w(ind + 1, f"for {k}, {mv} in {items}:")
            w(ind + 2, f"if not isinstance({k}, str):")
            w(ind + 3, f'raise _AEE("map key must be string, got %r" % ({k},))')
            w(ind + 2, f'{kb} = {k}.encode("utf-8")')
            w(ind + 2, f"{n} = len({kb}) << 1")
            self.uvarint(ind + 2, n)
            w(ind + 2, f"_be({kb})")
            self.emit(s.values, mv, ind + 2)
            w(ind, "_ba(0)")
            return

        if isinstance(s, UnionSchema):
            non_null = s.non_null_branches()
            if len(non_null) == 1 and len(s.branches) == 2:
                null_i = 0 if s.branches[0].type == "null" else 1
                val_i = 1 - null_i
                w(ind, f"if {src} is None:")
                self.emit_index(ind + 1, null_i)
                w(ind, "else:")
                self.emit_index(ind + 1, val_i)
                self.emit(s.branches[val_i], src, ind + 1)
                return
            # general unions (member structs / matcher chains): closure path
            self.fallback(ind, s, src)
            return

        if isinstance(s, RecordSchema):
            if id(s) in self._in_progress:
                self.fallback(ind, s, src)
                return
            self._in_progress.add(id(s))
            try:
                w(ind, f"if not isinstance({src}, dict):")
                w(ind + 1, f'raise _AEE("record {s.fullname} got %r" % ({src},))')
                for f in s.fields:
                    fv = self.tmp()
                    w(ind, f"{fv} = {src}.get({f.name!r}, _MISS)")
                    w(ind, f"if {fv} is _MISS:")
                    if f.has_default:
                        dflt = self.const("df", default_value(f))
                        w(ind + 1, f"{fv} = {dflt}")
                    else:
                        w(
                            ind + 1,
                            f'raise _AEE("record {s.fullname} missing field {f.name!r}")',
                        )
                    self.emit(f.schema, fv, ind)
            finally:
                self._in_progress.discard(id(s))
            return

        raise _Unsupported(repr(s))


# ---------------------------------------------------------------------------
# Compiled artifacts
# ---------------------------------------------------------------------------


# datetime's representable range in epoch micros (year 1 .. 9999); raw
# timestamps outside it take the per-element path, which raises
# OverflowError exactly like the closure decoder would
_TS_MIN_US = -62135596800000000
_TS_MAX_US = 253402300799999999


class BatchDecoder:
    """Generated columnar decoder for a top-level record schema.

    ``decode_blobs`` / ``decode_stream`` fill per-field column lists of
    Spark-mode values, except that top-level timestamp columns hold raw
    epoch ints; :meth:`column_array` turns each column into a pyarrow
    Array of Spark's Arrow type (timestamps by one buffer view)."""

    __slots__ = ("names", "ts_units", "_blobs", "_stream")

    def __init__(self, names, ts_units, blobs_fn, stream_fn) -> None:
        self.names = names
        self.ts_units = ts_units
        self._blobs = blobs_fn
        self._stream = stream_fn

    def new_columns(self) -> list[list]:
        return [[] for _ in self.names]

    def decode_blobs(self, blobs, outs, permissive: bool = False) -> None:
        """One whole datum per blob (None blob → None in every column)."""
        self._blobs(blobs, outs, permissive)

    def decode_stream(self, data: bytes, pos: int, count: int, outs) -> int:
        """``count`` consecutive datums from ``data`` at ``pos`` → columns;
        returns the position after the last datum."""
        return self._stream(data, pos, count, outs)

    def column_array(self, i: int, col: list, typ):
        """Column ``i``'s list → pyarrow Array of ``typ``. NaN stays a
        float value (``from_pandas=False``)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        unit = self.ts_units[i]
        if unit is not None:
            try:
                ints = pa.array(col, type=pa.int64())
            except (TypeError, ValueError, OverflowError):  # datetime reader defaults
                ints = None
            if ints is not None:
                lo, hi = (_TS_MIN_US, _TS_MAX_US)
                if unit == "ms":
                    lo, hi = lo // 1000, hi // 1000
                bounds = pc.min_max(ints)
                if ints.null_count == len(ints) or (
                    bounds["min"].as_py() >= lo and bounds["max"].as_py() <= hi
                ):
                    ts = ints.view(pa.timestamp(unit, typ.tz))
                    return ts if ts.type == typ else ts.cast(typ)
            kw = "microseconds" if unit == "us" else "milliseconds"
            col = [
                v if v is None or isinstance(v, dt.datetime)
                else _EPOCH_NAIVE + dt.timedelta(**{kw: v})
                for v in col
            ]
        return pa.array(col, type=typ, from_pandas=False)


class BatchEncoder:
    """Generated per-field-column encoder for a top-level record schema."""

    __slots__ = ("names", "_cols")

    def __init__(self, names: list[str], cols_fn) -> None:
        self.names = names
        self._cols = cols_fn

    def encode_columns(self, cols: list, n: int) -> list:
        """``cols`` matches ``names`` order; returns ``n`` datum byte-strings."""
        return self._cols(cols, n)

    def columns_from_arrow(self, batch) -> list:
        """``names``-ordered value lists from an Arrow RecordBatch."""
        return [_arrow_values(batch.column(name)) for name in self.names]


def _arrow_values(arr) -> list:
    """An Arrow array's values as the generated encoder takes them —
    structs as dicts, lists as lists, maps as (key, value) pairs, NULL
    as None, timestamps as raw epoch micros (the timestamp kernels'
    ``_ts_to_micros`` int passthrough, so no row builds a datetime) —
    built one child column at a time: pyarrow's per-element
    ``to_pylist`` costs ~5× as much on nested columns."""
    import pyarrow as pa

    typ = arr.type
    if pa.types.is_timestamp(typ):
        arr = arr.cast(pa.timestamp("us", typ.tz)).cast(pa.int64())
        typ = arr.type
    if pa.types.is_struct(typ):
        names = [f.name for f in typ]
        cols = [_arrow_values(arr.field(i)) for i in range(len(names))]
        out = [dict(zip(names, row)) for row in zip(*cols)] if cols else [{} for _ in range(len(arr))]
    elif isinstance(arr, (pa.ListArray, pa.LargeListArray)):  # MapArray included
        offs = arr.offsets.to_numpy()
        lo, hi = int(offs[0]), int(offs[-1])
        if isinstance(arr, pa.MapArray):
            keys = _arrow_values(arr.keys.slice(lo, hi - lo))
            flat = list(zip(keys, _arrow_values(arr.items.slice(lo, hi - lo))))
        else:
            flat = _arrow_values(arr.values.slice(lo, hi - lo))
        offs = (offs - lo).tolist()
        out = [flat[a:b] for a, b in zip(offs, offs[1:])]
    elif (
        pa.types.is_integer(typ)
        or pa.types.is_floating(typ)
        or pa.types.is_boolean(typ)
        or pa.types.is_string(typ)
        or pa.types.is_large_string(typ)
        or pa.types.is_binary(typ)
        or pa.types.is_large_binary(typ)
    ):
        # numpy's tolist gives the same Python values, in C; the
        # non-null values go alone, so no NULL becomes a NaN
        vals = (arr.drop_null() if arr.null_count else arr).to_numpy(zero_copy_only=False).tolist()
        if not arr.null_count:
            return vals
        it = iter(vals)
        return [None if m else next(it) for m in arr.is_null().to_numpy(zero_copy_only=False)]
    else:  # decimal, date, time, ...: Python objects either way
        return arr.to_pylist()
    if arr.null_count:
        return [None if m else v for v, m in zip(out, arr.is_null().to_numpy(zero_copy_only=False))]
    return out


def _ts_unit(s: AvroSchema) -> Optional[str]:
    """'us'/'ms' when a top-level field surfaces raw ints (mirrors the
    emitter's raw threading through nullable unions)."""
    if isinstance(s, UnionSchema):
        non_null = s.non_null_branches()
        if len(non_null) != 1:
            return None
        s = non_null[0]
    if isinstance(s, PrimitiveSchema):
        if s.logical == "timestamp-micros":
            return "us"
        if s.logical == "timestamp-millis":
            return "ms"
    return None


def _build_decoder(schema: AvroSchema) -> Optional[BatchDecoder]:
    if not isinstance(schema, RecordSchema) or not schema.fields:
        return None
    em = _DecEmitter()
    fvars = [f"r{i}" for i in range(len(schema.fields))]
    for f, fv in zip(schema.fields, fvars):
        em.emit(f.schema, fv, 0, raw=True)
    return _assemble_decoder(em, fvars, schema.fields, schema.fullname)


def _assemble_decoder(
    em: _DecEmitter, fvars: list, fields: list, fullname: str
) -> BatchDecoder:
    names = [f.name for f in fields]
    aps = [f"_a{i}" for i in range(len(names))]
    ap_bind = f"{', '.join(aps)}{',' if len(aps) == 1 else ''} = [_o.append for _o in outs]"
    null_row = "; ".join(f"{a}(None)" for a in aps)
    appends = "; ".join(f"{a}({v})" for a, v in zip(aps, fvars))
    body = ["            " + ln for ln in em.lines]
    truncated = '"truncated varint" if type(_e) is IndexError else "truncated input"'

    src: list[str] = []
    src.append("def _dec_blobs(blobs, outs, permissive):")
    src.append(f"    {ap_bind}")
    src.append("    for data in blobs:")
    src.append("        if data is None:")
    src.append(f"            {null_row}")
    src.append("            continue")
    src.append("        if type(data) is not bytes:")
    src.append("            data = bytes(data)")
    src.append("        pos = 0")
    src.append("        L = len(data)")
    src.append("        try:")
    src.extend(body)
    src.append("        except (IndexError, _SE) as _e:")  # _SE: a float or double cut short
    src.append("            if permissive:")
    src.append(f"                {null_row}")
    src.append("                continue")
    src.append(f"            raise _ADE({truncated}) from None")
    src.append("        except Exception:")
    src.append("            if permissive:")
    src.append(f"                {null_row}")
    src.append("                continue")
    src.append("            raise")
    src.append(f"        {appends}")
    src.append("")
    src.append("def _dec_stream(data, pos, count, outs):")
    src.append(f"    {ap_bind}")
    src.append("    if type(data) is not bytes:")
    src.append("        data = bytes(data)")
    src.append("    L = len(data)")
    src.append("    for _ in range(count):")
    src.append("        try:")
    src.extend(body)
    src.append("        except (IndexError, _SE) as _e:")
    src.append(f"            raise _ADE({truncated}) from None")
    src.append(f"        {appends}")
    src.append("    return pos")
    glb = em.env
    exec(compile("\n".join(src), f"<avro-dec:{fullname}>", "exec"), glb)  # noqa: S102
    ts_units = [_ts_unit(f.schema) for f in fields]
    return BatchDecoder(names, ts_units, glb["_dec_blobs"], glb["_dec_stream"])


def _build_resolver(writer: AvroSchema, reader: AvroSchema) -> Optional[BatchDecoder]:
    if (
        not isinstance(writer, RecordSchema)
        or not isinstance(reader, RecordSchema)
        or not reader.fields
    ):
        return None
    if not _names_match(writer, reader):
        raise SchemaResolutionError(
            f"record name mismatch: {writer.fullname} vs {reader.fullname}"
        )
    em = _ResEmitter()
    fvars = [v for _, v in _emit_res_fields(em, writer, reader, 0, raw=True)]
    return _assemble_decoder(em, fvars, reader.fields, f"{writer.fullname}->{reader.fullname}")


def _build_encoder(schema: AvroSchema) -> Optional[BatchEncoder]:
    if not isinstance(schema, RecordSchema) or not schema.fields:
        return None
    em = _EncEmitter()
    names = [f.name for f in schema.fields]
    k = len(names)
    body: list[str] = []
    em.lines = body
    for i, f in enumerate(schema.fields):
        v = f"v{i}"
        em.w(0, f"{v} = c{i}[_i]")
        em.emit(f.schema, v, 0)
    src: list[str] = []
    src.append("def _enc_cols(cols, n):")
    src.append(f"    {', '.join(f'c{i}' for i in range(k))}{',' if k == 1 else ''} = cols")
    src.append("    out = []")
    src.append("    _oap = out.append")
    src.append("    for _i in range(n):")
    src.append("        buf = bytearray()")
    src.append("        _ba = buf.append")
    src.append("        _be = buf.extend")
    src.extend("        " + ln for ln in body)
    src.append("        _oap(bytes(buf))")
    src.append("    return out")
    code = "\n".join(src)
    glb = em.env
    exec(compile(code, f"<avro-enc:{schema.fullname}>", "exec"), glb)  # noqa: S102
    return BatchEncoder(names, glb["_enc_cols"])


@lru_cache(maxsize=256)
def _cached_decoder(schema_json: str) -> Optional[BatchDecoder]:
    try:
        return _build_decoder(parse_schema(schema_json))
    except Exception:  # noqa: BLE001 — degrade to the closure path, never break
        return None


@lru_cache(maxsize=256)
def _cached_resolver(writer_json: str, reader_json: str) -> Optional[BatchDecoder]:
    try:
        return _build_resolver(parse_schema(writer_json), parse_schema(reader_json))
    except Exception:  # noqa: BLE001 — degrade to the closure resolver;
        # genuine resolution errors re-raise identically on that path
        return None


@lru_cache(maxsize=256)
def _cached_encoder(schema_json: str) -> Optional[BatchEncoder]:
    try:
        return _build_encoder(parse_schema(schema_json))
    except Exception:  # noqa: BLE001
        return None


def _spark_mode(mode: str) -> None:
    if mode != "spark":
        raise ValueError(f"generated decoders emit Spark-mode values only, not mode={mode!r}")


def get_batch_decoder(schema_json: str, mode: str = "spark") -> Optional[BatchDecoder]:
    """Generated columnar decoder for ``schema_json`` (top-level record),
    or None if codegen declines (caller must fall back to closures)."""
    _spark_mode(mode)
    return _cached_decoder(schema_json)


def get_batch_encoder(schema_json: str) -> Optional[BatchEncoder]:
    """Generated columnar encoder for ``schema_json`` (top-level record),
    or None if codegen declines (caller must fall back to closures)."""
    return _cached_encoder(schema_json)


def get_batch_resolver(
    writer_json: str, reader_json: str, mode: str = "spark"
) -> Optional[BatchDecoder]:
    """Generated columnar RESOLVING decoder (schema evolution: data
    written with ``writer_json``, surfaced with ``reader_json``'s shape),
    or None if codegen declines — callers fall back to the closure
    ``compile_resolver``, which raises the same SchemaResolutionError for
    genuinely irresolvable pairs. Identical schemas short-circuit to the
    plain generated decoder."""
    _spark_mode(mode)
    if writer_json == reader_json:
        return _cached_decoder(writer_json)
    return _cached_resolver(writer_json, reader_json)

"""Exec-compiled batch codecs: the Avro datum hot path, vectorized.

:mod:`binary` compiles a *closure tree* (one Python callable per schema
node) — correct, but on a 100 TB decode the per-row cost is dominated by
call overhead and ``BinaryReader`` attribute traffic. This module
generates ONE flat Python function per schema (``exec`` of generated
source): varint/zigzag/string reads inlined on local variables, no
reader object, no per-field calls.

Decoders write leaf columns, not Python objects: a record's fields go
to their own sinks, an array or map appends its per-value item count
and decodes its items into child sinks, a union appends nulls to the
members it did not take, and a reader-only field becomes one constant
Arrow array per batch. No dict or list is built for a nested value;
``BatchDecoder.column_array`` assembles Spark's Arrow values
(``StructArray``, list and map arrays, offsets from the counts) with
``from_arrays``/``from_buffers``. The values are Spark-mode (the values
Spark's Arrow types take: naive-UTC datetimes, member-struct unions,
time logical types as raw ints); python-mode values stay with the
closures.

Semantics are identical to the closure codecs (reference
io.py:235-1337 parity lives there; this changes only the execution
strategy). Guarantees:

- Any subtree the emitter can't inline (recursive named types, general
  unions on encode, oversized generated bodies) falls back to the
  closure codec for that subtree via a BinaryReader/BinaryWriter shim —
  coverage is total. On decode, a shim's objects are one leaf that
  ``pa.array`` converts.
- Any unexpected codegen failure makes ``get_batch_decoder`` /
  ``get_batch_encoder`` return ``None`` and the decoder ladder
  (:mod:`.ladder`) uses the closure path — a generator bug degrades to
  slow, never to wrong.

Entry points (lru-cached per schema JSON, so each executor process
compiles once per schema):

- :func:`get_batch_decoder` / :func:`get_batch_resolver` →
  :class:`BatchDecoder` with ``new_columns`` (an empty
  :class:`Columns`), ``decode_blobs`` (one datum per blob),
  ``decode_stream`` (N consecutive datums from one buffer, for
  container blocks) and ``column_array`` (one top-level field → a
  pyarrow Array of Spark's Arrow type).
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

import numpy as np

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
    "Columns",
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


class _Sink:
    """One node of a generated decoder's output plan: where the values
    of one reader-schema position go. Lists are numbered; the batch's
    :class:`Columns` holds them. ``kind``:

    - ``leaf``: Python values in list ``vals``, one per value. A
      top-level timestamp holds raw epoch ints (``unit`` 'us'/'ms'); a
      recursive subtree's closure-shim objects are a leaf too.
    - ``struct``: one child per record field or union member.
    - ``list`` / ``map``: list ``counts`` gets each value's item count;
      the items go to ``children`` (a map's key leaf, then its values).
    - ``const``: a reader-only field's default ``value``, one Arrow array
      per batch.

    ``valid`` is a list of bools, only where the value itself can be
    null under a union. ``level`` numbers the length domain (the rows,
    or one array's or map's items) the node's lists grow in."""

    __slots__ = ("kind", "level", "vals", "counts", "valid", "children", "unit", "value", "bound")

    def __init__(self, kind: str, level: int) -> None:
        self.kind = kind
        self.level = level
        self.vals = self.counts = self.valid = None
        self.children: list = []
        self.unit: Optional[str] = None
        self.value: Any = None
        self.bound = False


class Columns:
    """One batch's output lists: ``lists[k]`` is sink list k, ``n`` the
    rows decoded so far, ``nulls`` the indices of null rows (a None
    blob or a PERMISSIVE failure)."""

    __slots__ = ("lists", "n", "nulls")

    def __init__(self, n_lists: int) -> None:
        self.lists: list[list] = [[] for _ in range(n_lists)]
        self.n = 0
        self.nulls: list[int] = []


def _ts_unit(s: AvroSchema) -> Optional[str]:
    if isinstance(s, PrimitiveSchema):
        if s.logical == "timestamp-micros":
            return "us"
        if s.logical == "timestamp-millis":
            return "ms"
    return None


class _DecEmitter(_Emitter):
    """Emits code that appends each decoded value to its sink's lists
    (see :class:`_Sink`): a nested value leaves no dict or list behind,
    only leaf values, counts and validity flags."""

    def __init__(self) -> None:
        super().__init__()
        self.list_levels: list[int] = []
        self.n_levels = 1
        self.scratch: list[_Sink] = []  # sinks decoded into but never read
        self.null_nodes: list[_Sink] = []
        self._planning: set[int] = set()

    # -- the output plan

    def new_list(self, level: int) -> int:
        self.list_levels.append(level)
        return len(self.list_levels) - 1

    def leaf(self, level: int, unit: Optional[str] = None) -> _Sink:
        node = _Sink("leaf", level)
        node.vals = self.new_list(level)
        node.unit = unit
        return node

    def sink(self, s: AvroSchema, level: int, nullable: bool = False, raw: bool = False) -> _Sink:
        """The plan for values of reader schema ``s``. ``raw`` (top-level
        fields, through a nullable union) keeps timestamps as epoch ints;
        ``nullable`` gives the node its own validity list."""
        if isinstance(s, UnionSchema):
            non_null = s.non_null_branches()
            nullable = nullable or len(non_null) < len(s.branches)
            if not non_null:
                return self.leaf(level)
            if len(non_null) == 1:
                return self.sink(non_null[0], level, nullable, raw)
            node = _Sink("struct", level)
            node.children = [self.sink(b, level, nullable=True) for b in non_null]
        elif isinstance(s, RecordSchema):
            if id(s) in self._planning:  # recursive: closure shim objects
                return self.leaf(level)
            self._planning.add(id(s))
            try:
                node = _Sink("struct", level)
                node.children = [self.sink(f.schema, level) for f in s.fields]
            finally:
                self._planning.discard(id(s))
        elif isinstance(s, (ArraySchema, MapSchema)):
            node = _Sink("list" if isinstance(s, ArraySchema) else "map", level)
            node.counts = self.new_list(level)
            inner = self.n_levels
            self.n_levels += 1
            if isinstance(s, ArraySchema):
                node.children = [self.sink(s.items, inner)]
            else:
                node.children = [self.leaf(inner), self.sink(s.values, inner)]
        else:
            return self.leaf(level, _ts_unit(s) if raw else None)
        if nullable:
            node.valid = self.new_list(level)
        return node

    # -- code

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

    def put(self, ind: int, node: _Sink, expr: str) -> None:
        self.w(ind, f"_a{node.vals}({expr})")

    def valid(self, ind: int, node: _Sink, flag: bool) -> None:
        if node.valid is not None:
            self.w(ind, f"_a{node.valid}({flag})")

    def null_into(self, ind: int, node: _Sink) -> None:
        """Append a null to ``node``. Emitted as a marker that
        :meth:`expand` spells out once the plan is final (a resolved
        record's reader-only fields become constants after a union's
        null branch may already have been emitted)."""
        self.null_nodes.append(node)
        self.w(ind, f"#null {len(self.null_nodes) - 1}")

    def null_lines(self, node: _Sink) -> list[str]:
        """A null for ``node``: None to a leaf, no items to a list or
        map, a null to each child of a struct, nothing to a constant."""
        out = [] if node.valid is None else [f"_a{node.valid}(False)"]
        if node.kind == "leaf":
            out.append(f"_a{node.vals}(None)")
        elif node.kind == "struct":
            for c in node.children:
                out += self.null_lines(c)
        elif node.kind in ("list", "map"):
            out.append(f"_a{node.counts}(0)")
        return out

    def expand(self, lines: list[str]) -> list[str]:
        """``lines`` with each null marker spelled out."""
        out = []
        for ln in lines:
            body = ln.lstrip(" ")
            if body.startswith("#null "):
                pad = ln[: len(ln) - len(body)]
                out += [pad + x for x in self.null_lines(self.null_nodes[int(body[6:])]) or ["pass"]]
            else:
                out.append(ln)
        return out

    def pass_if_empty(self, ind: int, mark: int) -> None:
        if len(self.lines) == mark:
            self.w(ind, "pass")

    def fallback(self, ind: int, schema: AvroSchema, node: _Sink) -> None:
        fb = self.const("fb", _compile_dec(schema, {"__mode__": "spark"}))
        r = self.tmp()
        self.w(ind, f"{r} = _BR(data, pos)")
        self.put(ind, node, f"{fb}({r})")
        self.w(ind, f"pos = {r}.pos")

    def items(self, ind: int, node: _Sink, each: Callable[[int], None], key: bool = False) -> None:
        """An array's or map's blocks: per-value item count to
        ``node.counts``; ``each(ind)`` decodes one item (after its key,
        when ``key``)."""
        n, c, sz = self.tmp(), self.tmp(), self.tmp()
        w = self.w
        w(ind, f"{c} = 0")
        self.varint(ind, n)
        w(ind, f"while {n} != 0:")
        w(ind + 1, f"if {n} < 0:")
        w(ind + 2, f"{n} = -{n}")
        self.varint(ind + 2, sz)  # byte-size hint, discarded
        w(ind + 1, f"{c} += {n}")
        w(ind + 1, f"for _ in range({n}):")
        if key:
            kn = node.children[0]
            self.length_prefixed(
                ind + 2, lambda a, b: f'_a{kn.vals}(data[{a}:{b}].decode("utf-8"))'
            )
        mark = len(self.lines)
        each(ind + 2)
        self.pass_if_empty(ind + 2, mark)
        self.varint(ind + 1, n)
        w(ind, f"_a{node.counts}({c})")
        self.valid(ind, node, True)

    def scalar(self, s: AvroSchema, dst: str, ind: int, raw: bool = False) -> None:
        """A non-null primitive, fixed or enum value → ``dst``."""
        w = self.w
        if isinstance(s, PrimitiveSchema):
            t, lt = s.type, s.logical
            if lt is None:
                if t == "boolean":
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

        raise _Unsupported(repr(s))

    def emit(self, s: AvroSchema, node: _Sink, ind: int) -> None:
        """Decode one value of ``s`` into ``node``."""
        w = self.w
        if isinstance(s, PrimitiveSchema) and s.type == "null":
            self.null_into(ind, node)
            return

        if isinstance(s, UnionSchema):
            i = self.tmp()
            self.varint(ind, i)
            non_null = s.non_null_branches()
            kw = "if"
            j = 0
            for bi, b in enumerate(s.branches):
                w(ind, f"{kw} {i} == {bi}:")
                kw = "elif"
                mark = len(self.lines)
                if b.type == "null" or len(non_null) == 1:
                    # a nullable union's value is the branch's own node
                    self.emit(b, node, ind + 1)
                else:
                    for k, member in enumerate(node.children):
                        if k == j:
                            self.emit(b, member, ind + 1)
                        else:
                            self.null_into(ind + 1, member)
                    self.valid(ind + 1, node, True)
                    j += 1
                self.pass_if_empty(ind + 1, mark)
            w(ind, "else:")
            w(ind + 1, f'raise _ADE("union branch %d out of range" % {i})')
            return

        if isinstance(s, RecordSchema):
            if node.kind == "leaf":  # recursive type → closure fallback
                self.fallback(ind, s, node)
                return
            for f, child in zip(s.fields, node.children):
                self.emit(f.schema, child, ind)
            self.valid(ind, node, True)
            return

        if isinstance(s, ArraySchema):
            self.items(ind, node, lambda i2: self.emit(s.items, node.children[0], i2))
            return

        if isinstance(s, MapSchema):
            self.items(ind, node, lambda i2: self.emit(s.values, node.children[1], i2), key=True)
            return

        v = self.tmp()
        self.scalar(s, v, ind, raw=node.unit is not None)
        self.put(ind, node, v)


# ---------------------------------------------------------------------------
# Resolver emission (schema evolution: writer bytes -> reader values)
# ---------------------------------------------------------------------------


class _ResEmitter(_DecEmitter):
    """Two-schema emitter: decode writer-shaped bytes into the sinks of
    the reader's shape — the generated twin of
    :func:`binary._compile_res` (Avro resolution rules: promotions,
    writer-union branch dispatch, reader defaults, enum symbol remap,
    skipped writer-only fields). Semantics mirror the closure resolver
    exactly; compile-time resolution failures raise
    :class:`SchemaResolutionError` just like ``compile_resolver`` would
    (writer-union branches defer the raise to runtime — a branch that
    can't resolve only errors if data uses it)."""

    def res_fallback(self, ind: int, writer: AvroSchema, reader: AvroSchema, node: _Sink) -> None:
        fb = self.const("frb", _compile_res(writer, reader, {"__mode__": "spark"}))
        r = self.tmp()
        self.w(ind, f"{r} = _BR(data, pos)")
        self.put(ind, node, f"{fb}({r})")
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

    def skip_fixed(self, ind: int, size: int) -> None:
        self.w(ind, f"pos += {size}")
        self.w(ind, "if pos > L:")
        self.w(ind + 1, 'raise _ADE("truncated input")')

    def emit_skip(self, s: AvroSchema, ind: int) -> None:
        w = self.w
        if isinstance(s, PrimitiveSchema):
            t = s.type
            if t == "null":
                return
            if t in ("boolean", "float", "double"):
                self.skip_fixed(ind, {"boolean": 1, "float": 4, "double": 8}[t])
            elif t in ("int", "long"):
                self.skip_varint(ind)
            elif t in ("bytes", "string"):
                self.skip_len_prefixed(ind)
            else:  # pragma: no cover
                raise _Unsupported(t)
            return
        if isinstance(s, FixedSchema):
            self.skip_fixed(ind, s.size)
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
                mark = len(self.lines)
                self.emit_skip(s.items, ind + 3)
                self.pass_if_empty(ind + 3, mark)
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
                self.pass_if_empty(ind + 1, mark)  # null branch: nothing to skip
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

    def emit_res(self, w_s: AvroSchema, r_s: AvroSchema, node: _Sink, ind: int) -> None:
        """Decode one writer value of ``w_s`` into ``node``, the sink of
        reader schema ``r_s``."""
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
                    self.emit_res(b, r_s, node, ind + 1)
                except SchemaResolutionError as exc:
                    del self.lines[mark:]
                    msg = self.const("msg", str(exc))
                    w(ind + 1, f"raise _SRE({msg})")
                self.pass_if_empty(ind + 1, mark)
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
            if len(non_null) >= 2 and chosen.type != "null":
                j = sum(1 for b in r_s.branches[:chosen_idx] if b.type != "null")
                for k, member in enumerate(node.children):
                    if k == j:
                        self.emit_res(w_s, chosen, member, ind)
                    else:
                        self.null_into(ind, member)
                self.valid(ind, node, True)
                return
            self.emit_res(w_s, chosen, node, ind)
            return

        # primitives: same type -> reader decode (reader logical governs);
        # different -> spec promotion on the writer's wire format
        if isinstance(w_s, PrimitiveSchema) and isinstance(r_s, PrimitiveSchema):
            wt, rt = w_s.type, r_s.type
            if wt == rt:
                self.emit(r_s, node, ind)
                return
            if rt in _PROMOTIONS.get(wt, ()):
                v = self.tmp()
                if wt in ("int", "long") and rt == "long":
                    self.varint(ind, v)
                elif wt in ("int", "long") and rt in ("float", "double"):
                    self.varint(ind, v)
                    w(ind, f"{v} = float({v})")
                elif wt == "float" and rt == "double":
                    w(ind, f"{v} = _upf_f(data, pos)[0]; pos += 4")
                elif wt == "string" and rt == "bytes":
                    self.length_prefixed(ind, lambda a, b: f"{v} = data[{a}:{b}]")
                elif wt == "bytes" and rt == "string":
                    self.length_prefixed(
                        ind, lambda a, b: f'{v} = data[{a}:{b}].decode("utf-8")'
                    )
                else:  # pragma: no cover
                    raise _Unsupported(f"promotion {wt}->{rt}")
                self.put(ind, node, v)
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
            self.emit(r_s, node, ind)
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
            v = self.tmp()
            self.varint(ind, i)
            w(ind, f"if not 0 <= {i} < {len(table)}:")
            w(ind + 1, f'raise _ADE("enum index %d out of range" % {i})')
            w(ind, f"{v} = {tname}[{i}]")
            if any(s is None for s in table):
                w(ind, f"if {v} is None:")
                w(
                    ind + 1,
                    f'raise _SRE("writer symbol absent from reader enum {r_s.fullname}")',
                )
            self.put(ind, node, v)
            return

        if isinstance(w_s, ArraySchema) and isinstance(r_s, ArraySchema):
            self.items(
                ind, node, lambda i2: self.emit_res(w_s.items, r_s.items, node.children[0], i2)
            )
            return

        if isinstance(w_s, MapSchema) and isinstance(r_s, MapSchema):
            self.items(
                ind,
                node,
                lambda i2: self.emit_res(w_s.values, r_s.values, node.children[1], i2),
                key=True,
            )
            return

        if isinstance(w_s, RecordSchema) and isinstance(r_s, RecordSchema):
            if not _names_match(w_s, r_s):
                raise SchemaResolutionError(
                    f"record name mismatch: {w_s.fullname} vs {r_s.fullname}"
                )
            if node.kind == "leaf":  # recursive reader type → closure fallback
                self.res_fallback(ind, w_s, r_s, node)
                return
            _emit_res_fields(self, w_s, r_s, node, ind)
            self.valid(ind, node, True)
            return

        raise SchemaResolutionError(
            f"cannot resolve writer {w_s.type} to reader {r_s.type}"
        )  # pragma: no cover


def _emit_res_fields(
    em: _ResEmitter, writer: RecordSchema, reader: RecordSchema, node: _Sink, ind: int
) -> None:
    """Emit the record-resolution plan into struct ``node`` (one child
    per reader field): writer fields in writer order (matched → decode
    into the reader field's sink, unmatched → skip), then each
    reader-only field's child becomes its default as a constant. Raises
    SchemaResolutionError exactly where the closure resolver would."""
    if node.bound:
        # two writer records (union branches) into one reader record:
        # a reader-only field would be a constant for one and not the other
        raise _Unsupported("writer records share a reader record")
    node.bound = True
    reader_by_name: dict[str, tuple[int, Field]] = {}
    for k, f in enumerate(reader.fields):
        reader_by_name[f.name] = (k, f)
        for a in f.aliases:
            reader_by_name.setdefault(a, (k, f))
    # two writer fields mapping to one reader slot (name + alias): the
    # later decode wins, matching the closure resolver; the earlier one
    # still decodes (same errors), into a sink nobody reads
    last = {}
    for wf in writer.fields:
        hit = reader_by_name.get(wf.name)
        if hit is not None:
            last[hit[0]] = wf
    for wf in writer.fields:
        hit = reader_by_name.get(wf.name)
        if hit is None:
            em.emit_skip(wf.schema, ind)
            continue
        k, rf = hit
        if last[k] is wf:
            target = node.children[k]
        else:
            target = em.sink(rf.schema, node.level)
            em.scratch.append(target)
        em.emit_res(wf.schema, rf.schema, target, ind)
    for k, rf in enumerate(reader.fields):
        if k not in last:
            if not rf.has_default:
                raise SchemaResolutionError(
                    f"reader field {reader.fullname}.{rf.name} has no "
                    "default and is absent from writer schema"
                )
            const = _Sink("const", node.level)
            const.value = adapt_spark_value(rf.schema, default_value(rf))
            node.children[k] = const


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

    ``decode_blobs`` / ``decode_stream`` append to the leaf columns of a
    :class:`Columns` (:meth:`new_columns`): a record's fields go to
    their own sinks, an array or map appends its per-value count and its
    items to child sinks, a union appends nulls to the members it did not
    take. :meth:`column_array` assembles one top-level field as a
    pyarrow Array of Spark's Arrow type: ``StructArray``, list and map
    arrays from the child arrays and offsets from the counts, top-level
    timestamps by one buffer view, a reader-only field as one constant
    array."""

    __slots__ = ("names", "source", "_root", "_n_lists", "_blobs", "_stream")

    def __init__(self, names, root, n_lists, source, blobs_fn, stream_fn) -> None:
        self.names = names
        self.source = source
        self._root = root
        self._n_lists = n_lists
        self._blobs = blobs_fn
        self._stream = stream_fn

    def new_columns(self) -> Columns:
        return Columns(self._n_lists)

    def decode_blobs(self, blobs, outs: Columns, permissive: bool = False) -> None:
        """One whole datum per blob (None blob → a null row). PERMISSIVE
        turns an undecodable blob into a null row, leaving no partial
        value in any sink."""
        self._blobs(blobs, outs, permissive)

    def decode_stream(self, data: bytes, pos: int, count: int, outs: Columns) -> int:
        """``count`` consecutive datums from ``data`` at ``pos`` → columns;
        returns the position after the last datum."""
        return self._stream(data, pos, count, outs)

    def column_array(self, i: int, outs: Columns, typ):
        """Top-level field ``i`` of ``outs`` → pyarrow Array of ``typ``.
        NaN stays a float value (``from_pandas=False``)."""
        null_rows = None
        if outs.nulls:
            null_rows = np.zeros(outs.n, dtype=bool)
            null_rows[outs.nulls] = True
        return _sink_array(outs.lists, self._root.children[i], typ, outs.n, null_rows)


def _sink_array(lists: list, node: _Sink, typ, n: int, null_rows=None):
    """``node``'s ``n`` values → pyarrow Array of ``typ``; ``null_rows``
    (True = null) masks a top-level field's null rows."""
    import pyarrow as pa

    if node.kind == "leaf":
        return _leaf_array(lists[node.vals], typ, node.unit)
    if node.kind == "const":
        idx = pa.array(np.zeros(n, dtype=np.int32), mask=null_rows)
        return pa.array([node.value], type=typ, from_pandas=False).take(idx)
    null = null_rows
    if node.valid is not None:
        invalid = ~np.array(lists[node.valid], dtype=bool)
        null = invalid if null is None else null | invalid
    if null is not None and not null.any():
        null = None
    if node.kind == "struct":
        if not node.children:  # a record with no fields: no child to give the length
            nulls = np.zeros(n, dtype=bool) if null is None else null
            return pa.array([None if m else {} for m in nulls.tolist()], typ)
        children = [_sink_array(lists, c, typ.field(k).type, n) for k, c in enumerate(node.children)]
        return pa.StructArray.from_arrays(
            children, fields=list(typ), mask=None if null is None else pa.array(null)
        )
    counts = np.array(lists[node.counts], dtype=np.int64)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    m = int(offsets[-1])
    if node.kind == "list":
        child = _sink_array(lists, node.children[0], typ.value_type, m)
    else:
        keys = pa.array(lists[node.children[0].vals], type=typ.key_type)
        items = _sink_array(lists, node.children[1], typ.item_type, m)
        keys, items, offsets = _last_key_wins(keys, items, offsets, counts)
        child = pa.StructArray.from_arrays([keys, items], fields=[typ.key_field, typ.item_field])
    validity = None if null is None else pa.py_buffer(np.packbits(~null, bitorder="little"))
    return pa.Array.from_buffers(
        typ, n, [validity, pa.py_buffer(offsets.astype(np.int32))], children=[child]
    )


def _last_key_wins(keys, items, offsets, counts):
    """A map holding one key twice keeps the last value at the first
    key's position, as a dict would. Most batches have no such map: a
    numpy check finds that, and only then are the entries re-taken."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not len(keys) or counts.max() <= 1:
        return keys, items, offsets
    owner = np.repeat(np.arange(len(counts)), counts)
    multi = counts[owner] > 1
    codes = pc.dictionary_encode(keys.filter(pa.array(multi))).indices.to_numpy()
    pairs = owner[multi] * (len(keys) + 1) + codes
    if np.unique(pairs).size == pairs.size:
        return keys, items, offsets
    names = keys.to_pylist()
    bounds = offsets.tolist()
    take: list[int] = []
    for i in range(len(counts)):
        last = {}
        for j in range(bounds[i], bounds[i + 1]):
            last[names[j]] = j
        take.extend(last.values())
        offsets[i + 1] = len(take)
    idx = pa.array(take, type=pa.int64())
    return keys.take(idx), items.take(idx), offsets


def _leaf_array(col: list, typ, unit: Optional[str]):
    """A leaf's values → pyarrow Array of ``typ``; ``unit`` marks raw
    epoch-int timestamps, viewed as Arrow timestamps when all lie in
    datetime's range."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if unit is not None:
        ints = pa.array(col, type=pa.int64())
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
        col = [None if v is None else _EPOCH_NAIVE + dt.timedelta(**{kw: v}) for v in col]
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


def _rollback(levels: list[int]):
    """PERMISSIVE undo of a failed row: list k goes back to the length
    its level had when the row started."""

    def rollback(lists: list, marks: tuple) -> None:
        for lst, level in zip(lists, levels):
            del lst[marks[level]:]

    return rollback


def _lists_of(*nodes: _Sink) -> set[int]:
    """The lists the sinks under ``nodes`` append to."""
    out: set[int] = set()
    for node in nodes:
        out.update(k for k in (node.vals, node.counts, node.valid) if k is not None)
        out |= _lists_of(*node.children)
    return out


def _build_decoder(schema: AvroSchema) -> Optional[BatchDecoder]:
    if not isinstance(schema, RecordSchema) or not schema.fields:
        return None
    em = _DecEmitter()
    root = _Sink("struct", 0)
    root.children = [em.sink(f.schema, 0, raw=True) for f in schema.fields]
    for f, child in zip(schema.fields, root.children):
        em.emit(f.schema, child, 0)
    return _assemble_decoder(em, root, schema.fields, schema.fullname)


def _assemble_decoder(em: _DecEmitter, root: _Sink, fields: list, fullname: str) -> BatchDecoder:
    n_lists = len(em.list_levels)
    body = ["            " + ln for ln in em.expand(em.lines) or ["pass"]]
    null_row = [ln for child in root.children for ln in em.null_lines(child)]
    em.env["_rb"] = _rollback(em.list_levels)
    # one list per level stands for its length when a row starts; a
    # list left behind by a field that became a constant stays empty
    live = sorted(_lists_of(root, *em.scratch))
    first: dict[int, int] = {}
    for k in live:
        first.setdefault(em.list_levels[k], k)
    marks = "".join(
        f"len(_L[{first[lv]}]), " if lv in first else "0, " for lv in range(em.n_levels)
    )
    binds = [f"_a{k} = _L[{k}].append" for k in live]
    truncated = '"truncated varint" if type(_e) is IndexError else "truncated input"'

    def null_lines(ind: str) -> list[str]:
        return [ind + ln for ln in null_row] + [f"{ind}_nl(_n0 + _i)"]

    src: list[str] = []
    src.append("def _dec_blobs(blobs, outs, permissive):")
    src.append("    _L = outs.lists")
    src.extend("    " + b for b in binds)
    src.append("    _nl = outs.nulls.append")
    src.append("    _n0 = outs.n")
    src.append("    for _i, data in enumerate(blobs):")
    src.append("        if data is None:")
    src.extend(null_lines("            "))
    src.append("            continue")
    src.append("        if type(data) is not bytes:")
    src.append("            data = bytes(data)")
    src.append("        pos = 0")
    src.append("        L = len(data)")
    src.append("        if permissive:")
    src.append(f"            _mk = ({marks})")
    src.append("        try:")
    src.extend(body)
    src.append("        except (IndexError, _SE) as _e:")  # _SE: a float or double cut short
    src.append("            if not permissive:")
    src.append(f"                raise _ADE({truncated}) from None")
    src.append("            _rb(_L, _mk)")
    src.extend(null_lines("            "))
    src.append("        except Exception:")
    src.append("            if not permissive:")
    src.append("                raise")
    src.append("            _rb(_L, _mk)")
    src.extend(null_lines("            "))
    src.append("    outs.n = _n0 + len(blobs)")
    src.append("")
    src.append("def _dec_stream(data, pos, count, outs):")
    src.append("    _L = outs.lists")
    src.extend("    " + b for b in binds)
    src.append("    if type(data) is not bytes:")
    src.append("        data = bytes(data)")
    src.append("    L = len(data)")
    src.append("    for _ in range(count):")
    src.append("        try:")
    src.extend(body)
    src.append("        except (IndexError, _SE) as _e:")
    src.append(f"            raise _ADE({truncated}) from None")
    src.append("    outs.n += count")
    src.append("    return pos")
    code = "\n".join(src)
    glb = em.env
    exec(compile(code, f"<avro-dec:{fullname}>", "exec"), glb)  # noqa: S102
    names = [f.name for f in fields]
    return BatchDecoder(names, root, n_lists, code, glb["_dec_blobs"], glb["_dec_stream"])


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
    root = _Sink("struct", 0)
    root.children = [em.sink(f.schema, 0, raw=True) for f in reader.fields]
    _emit_res_fields(em, writer, reader, root, 0)
    return _assemble_decoder(em, root, reader.fields, f"{writer.fullname}->{reader.fullname}")


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

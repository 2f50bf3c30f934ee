"""Vectorized (numpy) Avro batch decoder for flat record schemas.

The exec-generated per-datum decoder (:mod:`codegen`) costs ~2.9 µs/row
on a realistic mixed schema, and profiling shows ~60 % of that is the
pure Python *offset walk* (byte-at-a-time varint loops + slicing), not
object construction (strings decode at ~80 ns/row; pandas/Arrow
conversion is ~0). So the next win is not "bulk strings" but removing
the per-row walk entirely.

This module decodes WHOLE BLOB BATCHES with numpy array passes (the
raw-datum path: one Avro datum per cell — the reference's Redshift
streaming-ingestion shape, README.md:12):

- Each datum is a ``(start, end)`` span of one contiguous ``uint8``
  buffer: an Arrow binary column's data buffer, or a batch's blobs
  joined. Per-row cursors live in an int64 ``pos`` array.
- Varints decode as an iterative frontier: each pass reads ONE byte for
  every still-continuing row (``arr[pos]``), accumulates ``(b & 0x7f)
  << shift`` and advances — a 1-byte varint costs one vector pass, so a
  field costs ~max-encoded-length passes over ever-shrinking frontiers
  instead of n Python byte loops.
- Strings/bytes gather their scattered value runs with ONE fancy-index
  (``repeat(starts, lens) + ramp``) into a contiguous values buffer and
  become Arrow ``StringArray``/``BinaryArray`` via ``from_buffers`` —
  no per-value Python object anywhere; the decoder ladder hands these
  Arrow arrays to Spark as they are.
- Doubles/floats gather ``pos[:, None] + arange(width)`` and
  reinterpret the bytes.

Anything the vector path can't express — nested types, logical types
other than raw-int timestamps, multi-branch unions, malformed or
invalid-UTF-8 input (caught by Arrow's full validation), timestamps
outside datetime's range — raises :class:`VectorFallback` and the
decoder ladder (:mod:`.ladder`) re-decodes the batch on its next tier,
which owns exact per-row error semantics (PERMISSIVE nulls, typed
errors). A vector-path surprise therefore degrades to slower, never to
wrong — the same safety ladder codegen sits on (codegen → closures).

Measured on the 6-field Event schema (3 varints, ts, string, double,
nullable string), 100k rows: generated decoder ~2.9 µs/row end-to-end
vs vectorized ~0.3 µs/row; differential correctness pins live in
tests/test_vectorized_decoder.py.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Optional

import numpy as np

from .schema_model import (
    AvroSchema,
    EnumSchema,
    FixedSchema,
    PrimitiveSchema,
    RecordSchema,
    UnionSchema,
    parse_schema,
)

__all__ = ["VectorFallback", "VectorizedBlobDecoder", "get_vector_decoder", "join_blobs"]

_TS_MIN_US = -62135596800000000
_TS_MAX_US = 253402300799999999

_SIMPLE = {"boolean", "int", "long", "float", "double", "bytes", "string"}


class VectorFallback(Exception):
    """Batch can't be vector-decoded (unsupported shape or anomalous
    data); caller must use the per-datum path."""


def _field_plan(s: AvroSchema):
    """(kind, nullable, null_branch_index) or None if unsupported.

    kind ∈ {boolean,int,long,float,double,bytes,string,ts_us,ts_ms} ∪
    {("enum", symbols), ("fixed", size)} — the tuple kinds are
    DECODE-only (the encoder builder rejects them)."""
    nullable = False
    null_idx = -1
    if isinstance(s, UnionSchema):
        branches = s.branches
        if len(branches) != 2:
            return None
        kinds = [getattr(b, "type", None) for b in branches]
        if "null" not in kinds:
            return None
        null_idx = kinds.index("null")
        s = branches[1 - null_idx]
        nullable = True
    if isinstance(s, EnumSchema):
        return ("enum", tuple(s.symbols)), nullable, null_idx
    if isinstance(s, FixedSchema):
        return ("fixed", int(s.size)), nullable, null_idx
    if not isinstance(s, PrimitiveSchema):
        return None
    if s.logical == "timestamp-micros":
        kind = "ts_us"
    elif s.logical == "timestamp-millis":
        kind = "ts_ms"
    elif s.logical is None and s.type in _SIMPLE:
        kind = s.type
    else:
        return None
    return kind, nullable, null_idx


class VectorizedBlobDecoder:
    """Vector decoder for one eligible flat record schema. Stateless —
    all cursor state is threaded explicitly, so instances are safe to
    share across tasks/threads (they are lru-cached per schema)."""

    def __init__(self, fields) -> None:
        self.fields = fields  # [(name, kind, nullable, null_idx), ...]
        self.names = [f[0] for f in fields]

    # -- primitives (all take/return explicit cursor state) -----------

    @staticmethod
    def _varint(arr, pos, ends, sel):
        """Zigzag varint for rows in index array ``sel``; returns
        (int64 values aligned with sel, advanced full pos array)."""
        m = len(sel)
        val = np.zeros(m, dtype=np.uint64)
        shift = np.zeros(m, dtype=np.uint64)
        p = pos[sel].copy()
        row_end = ends[sel]
        frontier = np.arange(m)
        while frontier.size:
            pf = p[frontier]
            if (pf >= row_end[frontier]).any():
                raise VectorFallback("truncated varint")
            b = arr[pf].astype(np.uint64)
            val[frontier] |= (b & np.uint64(0x7F)) << shift[frontier]
            shift[frontier] += np.uint64(7)
            p[frontier] += 1
            frontier = frontier[(b & np.uint64(0x80)) != 0]
            if frontier.size and int(shift[frontier].max()) > 70:
                raise VectorFallback("varint too long")
        x = (val >> np.uint64(1)) ^ (np.uint64(0) - (val & np.uint64(1)))
        out = x.view(np.int64)
        new_pos = pos.copy()
        new_pos[sel] = p
        return out, new_pos

    @staticmethod
    def _fixed(arr, pos, ends, sel, width, dtype):
        p = pos[sel]
        if ((p + width) > ends[sel]).any():
            raise VectorFallback("truncated fixed-width")
        idx = p[:, None] + np.arange(width, dtype=np.int64)
        vals = np.ascontiguousarray(arr[idx]).view(dtype).ravel()
        new_pos = pos.copy()
        new_pos[sel] = p + width
        return vals, new_pos

    @classmethod
    def _length_delimited(cls, arr, pos, ends, sel):
        """Returns (starts, lens aligned with sel, advanced pos)."""
        lens, pos = cls._varint(arr, pos, ends, sel)
        if len(lens) and (lens < 0).any():
            raise VectorFallback("negative length")
        starts = pos[sel]
        if len(lens) and ((starts + lens) > ends[sel]).any():
            raise VectorFallback("truncated bytes/string")
        new_pos = pos.copy()
        new_pos[sel] = starts + lens
        return starts, lens, new_pos

    @staticmethod
    def _gather_runs(arr, starts, lens):
        """Concatenate value runs [starts[i], starts[i]+lens[i]) into
        one contiguous buffer + int32 offsets — fully vectorized.

        Output position k inside run i maps to source index
        ``starts[i] + (k - offsets[i])``, so the whole gather index is
        ONE repeat of the per-run bias (starts − offsets) plus one
        global ramp — two total-size allocations instead of three."""
        total = int(lens.sum()) if len(lens) else 0
        offsets = np.zeros(len(lens) + 1, dtype=np.int32)
        if len(lens):
            np.cumsum(lens, out=offsets[1:])
        if total == 0:
            return offsets, np.empty(0, dtype=np.uint8)
        bias = starts - offsets[:-1].astype(np.int64)
        idx = np.repeat(bias, lens)
        idx += np.arange(total, dtype=np.int64)
        return offsets, arr[idx]

    # -- per-column ----------------------------------------------------

    def _decode_value(self, pa, arr, pos, ends, sel, kind, n):
        """Decode one value per row in ``sel``; returns (pa.Array of
        length n with nulls off-sel, advanced pos)."""

        def scatter(vals_sel, pa_type, np_dtype):
            full = np.zeros(n, dtype=np_dtype)
            full[sel] = vals_sel
            mask = np.zeros(n, dtype=bool)
            mask[sel] = True
            return pa.array(full, type=pa_type, mask=~mask)

        def expand(dense):
            # re-expand a dense (valid-rows-only) array to length n
            take_idx = np.full(n, 0, dtype=np.int64)
            take_idx[sel] = np.arange(len(sel), dtype=np.int64)
            mask = np.ones(n, dtype=bool)
            mask[sel] = False
            return dense.take(pa.array(take_idx, type=pa.int64(), mask=mask))

        if isinstance(kind, tuple) and kind[0] == "enum":
            symbols = kind[1]
            vals, pos = self._varint(arr, pos, ends, sel)
            if len(vals) and ((vals < 0) | (vals >= len(symbols))).any():
                raise VectorFallback("enum index out of range")
            dense = pa.array(list(symbols), type=pa.utf8()).take(
                pa.array(vals, type=pa.int64())
            )
            return expand(dense), pos
        if isinstance(kind, tuple) and kind[0] == "fixed":
            width = kind[1]
            p = pos[sel]
            if len(p) and ((p + width) > ends[sel]).any():
                raise VectorFallback("truncated fixed")
            if width:
                flat = arr[p[:, None] + np.arange(width, dtype=np.int64)].tobytes()
            else:
                flat = b""
            dense = pa.FixedSizeBinaryArray.from_buffers(
                pa.binary(width), len(sel), [None, pa.py_buffer(flat)]
            ).cast(pa.binary())
            new_pos = pos.copy()
            new_pos[sel] = p + width
            return expand(dense), new_pos
        if kind in ("int", "long", "ts_us", "ts_ms"):
            vals, pos = self._varint(arr, pos, ends, sel)
            if kind == "int":
                if len(vals) and (
                    (vals > 2147483647) | (vals < -2147483648)
                ).any():
                    raise VectorFallback("int out of range")
                return scatter(vals, pa.int32(), np.int64), pos
            if kind == "long":
                return scatter(vals, pa.int64(), np.int64), pos
            lo, hi = (
                (_TS_MIN_US, _TS_MAX_US)
                if kind == "ts_us"
                else (_TS_MIN_US // 1000, _TS_MAX_US // 1000)
            )
            if len(vals) and (int(vals.min()) < lo or int(vals.max()) > hi):
                raise VectorFallback("timestamp outside datetime range")
            unit = "us" if kind == "ts_us" else "ms"
            return scatter(vals, pa.timestamp(unit), np.int64), pos
        if kind == "boolean":
            p = pos[sel]
            if len(p) and (p >= ends[sel]).any():
                raise VectorFallback("truncated boolean")
            vals = arr[p] > 0
            new_pos = pos.copy()
            new_pos[sel] = p + 1
            return scatter(vals, pa.bool_(), bool), new_pos
        if kind == "float":
            vals, pos = self._fixed(arr, pos, ends, sel, 4, "<f4")
            return scatter(vals, pa.float32(), np.float32), pos
        if kind == "double":
            vals, pos = self._fixed(arr, pos, ends, sel, 8, "<f8")
            return scatter(vals, pa.float64(), np.float64), pos
        if kind in ("bytes", "string"):
            starts, lens_sel, pos = self._length_delimited(arr, pos, ends, sel)
            offsets, values = self._gather_runs(arr, starts, lens_sel)
            typ = pa.utf8() if kind == "string" else pa.binary()
            dense = pa.Array.from_buffers(
                typ,
                len(sel),
                [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(values.tobytes())],
            )
            if kind == "string":
                try:
                    dense.validate(full=True)  # UTF-8 parity with .decode
                except pa.ArrowInvalid as exc:
                    raise VectorFallback(f"invalid utf-8: {exc}") from None
            # re-expand the dense (valid-rows-only) child to length n
            take_idx = np.full(n, 0, dtype=np.int64)
            take_idx[sel] = np.arange(len(sel), dtype=np.int64)
            mask = np.ones(n, dtype=bool)
            mask[sel] = False
            idx_arr = pa.array(take_idx, type=pa.int64(), mask=mask)
            return dense.take(idx_arr), pos
        raise VectorFallback(f"unsupported kind {kind}")  # pragma: no cover

    # -- shared field loop --------------------------------------------

    def _decode_fields(self, pa, arr, pos, ends, live, n):
        """Decode every field for rows whose cursors are in ``pos``
        (live = present row indices); returns (dict name → pa.Array,
        final pos array) — the shared core of the blob-batch and
        contiguous-stream paths."""
        out = {}
        for name, kind, nullable, null_idx in self.fields:
            sel = live
            if nullable:
                branch, pos = self._varint(arr, pos, ends, sel)
                nn = 1 - null_idx
                if len(branch) and (
                    ~((branch == null_idx) | (branch == nn))
                ).any():
                    raise VectorFallback("unknown union branch")
                sel = sel[branch == nn]
            out[name], pos = self._decode_value(pa, arr, pos, ends, sel, kind, n)
        return out, pos

    # -- contiguous-stream (container block) path ---------------------

    @staticmethod
    def _uvarint_table(arr):
        """(val, end) tables for the unsigned varint starting at EVERY
        byte position p — vectorized over the whole buffer in a fixed
        handful of passes. ``end[p]`` is the position after the varint
        (exact for any length via a single reverse minimum-accumulate
        over terminator positions; sentinel m+1 when unterminated);
        ``val[p]`` is exact for varints of ≤ 4 bytes (any length or
        branch a sane block contains — longer ones keep correct ends
        and garbage values, which are only ever *skipped* and caught by
        the validity checks). Positions inside payload bytes produce
        entries the record chain never visits."""
        m = len(arr)
        # int32 throughout: container blocks are sync_interval-sized
        # (≪ 2^31), and halved bandwidth is a measurable win on the
        # m-length table passes; values stay exact for ≤ 4-byte varints
        # (< 2^28)
        is_term = arr < 0x80
        idxs = np.arange(m, dtype=np.int32)
        term_pos = np.where(is_term, idxs, np.int32(2**31 - 2))
        nxt = np.minimum.accumulate(term_pos[::-1])[::-1]
        end = np.minimum(nxt + 1, np.int32(m + 1))
        lo = (arr & 0x7F).astype(np.int32)
        val = lo.copy()
        cont = ~is_term
        prev_cont = cont
        for k, shift in ((1, 7), (2, 14), (3, 21)):
            nb = np.zeros(m, dtype=np.int32)
            if k < m:  # m - k could go negative on tiny buffers
                nb[: m - k] = lo[k:]
            val = np.where(prev_cont, val + (nb << shift), val)
            if k < 3:
                nc = np.zeros(m, dtype=bool)
                if k < m:
                    nc[: m - k] = cont[k:]
                prev_cont = prev_cont & nc
        return val, end  # both int32 — _segment stays narrow throughout

    def _segment(self, arr, count):
        """Start offsets of ``count`` records concatenated in ``arr``.

        Fully vectorized: per-field skip TABLES over every byte
        position compose (fancy-index gathers) into one record-skip
        table R, and the record chain then walks ``count`` O(1) steps
        (p ← R[p]). Any inconsistency — cursor escaping the buffer,
        negative length, unknown branch, chain not landing exactly at
        the end — raises :class:`VectorFallback` so the caller retries
        with the per-datum decoder."""
        m = len(arr)
        starts = np.empty(count, dtype=np.int64)
        if count == 0:
            return starts
        if m == 0:
            raise VectorFallback("empty buffer with records")
        if m >= 2**31 - 16:  # int32 table domain (blocks are ≪ this)
            raise VectorFallback("buffer too large for int32 skip tables")
        uval, uend = self._uvarint_table(arr)
        zz = (uval >> 1) ^ -(uval & 1)  # zigzag values (lengths, branches)
        bad = np.int32(m + 1)
        # sentinel slot at index m: any cursor at/past the buffer end
        # (clipped to m) reads `bad`, which then self-propagates
        uend_ext = np.append(uend, bad)
        zz_ext = np.append(zz, bad)

        def gather(table_ext, t):
            # t is always >= 0 here (every producer checks), so one
            # clip covers both end-of-buffer and propagated `bad`
            return table_ext[np.minimum(t, m)]

        def skip_fixed(t, width):
            t2 = t + width
            return np.where(t2 <= m, t2, bad)

        def skip_kind(t, kind):
            if isinstance(kind, tuple):
                if kind[0] == "enum":  # zigzag index varint
                    return gather(uend_ext, t)
                return skip_fixed(t, kind[1])  # fixed(size)
            if kind in ("int", "long", "ts_us", "ts_ms"):
                return gather(uend_ext, t)
            if kind == "boolean":
                return skip_fixed(t, 1)
            if kind == "float":
                return skip_fixed(t, 4)
            if kind == "double":
                return skip_fixed(t, 8)
            # bytes / string: length varint + payload
            ln = gather(zz_ext, t)
            after = gather(uend_ext, t)
            t2 = after + ln
            # t2 >= after also rejects int32 wraparound from garbage
            # lengths (gather would otherwise wrap a negative index)
            ok = (ln >= 0) & (t2 >= after) & (t2 <= m)
            return np.where(ok, t2, bad)

        t = np.arange(m, dtype=np.int32)
        for _name, kind, nullable, null_idx in self.fields:
            if nullable:
                branch = gather(zz_ext, t)
                after = gather(uend_ext, t)
                nn = 1 - null_idx
                skipped = skip_kind(after, kind)
                t = np.where(
                    branch == null_idx,
                    after,
                    np.where(branch == nn, skipped, bad),
                )
            else:
                t = skip_kind(t, kind)

        p = 0
        for r in range(count):
            if p < 0 or p >= m:
                raise VectorFallback("segmentation out of bounds")
            starts[r] = p
            p = int(t[p])
        if p != m:
            raise VectorFallback("segmentation did not land on buffer end")
        return starts

    def decode_stream_arrow(self, data, count):
        """``count`` records concatenated in one contiguous buffer (an
        Avro container block after decompression) → dict name →
        pyarrow.Array of length count.

        The S2 container twin of :meth:`decode_spans_arrow`: the block
        is segmented with composed vectorized skip tables
        (:meth:`_segment`) and the fields then decode with the same
        frontier passes as the raw-datum path. The final cursor of
        every record is checked against the next record's start, so a
        mis-segmentation can only ever fall back, never mis-decode."""
        import pyarrow as pa

        arr = np.frombuffer(data, dtype=np.uint8) if not isinstance(
            data, np.ndarray
        ) else data
        n = int(count)
        pos = self._segment(arr, n)
        ends = np.empty(n, dtype=np.int64)
        if n:
            ends[:-1] = pos[1:]
            ends[-1] = len(arr)
        live = np.arange(n, dtype=np.int64)
        out, final = self._decode_fields(pa, arr, pos, ends, live, n)
        if n and (final != ends).any():
            raise VectorFallback("record decode did not consume its span")
        return out

    # -- whole batch ---------------------------------------------------

    def decode_spans_arrow(self, buf, starts, ends, null_mask=None):
        """Datum i is ``buf[starts[i]:ends[i]]`` (any buffer-protocol
        object; spans may sit anywhere in it, in any order) → dict name
        → pyarrow.Array of length n. ``null_mask`` (bool array, True =
        null row) gives a row of nulls and leaves that span unread.

        Raises VectorFallback on anything the vector path can't decode
        exactly."""
        import pyarrow as pa

        arr = buf if isinstance(buf, np.ndarray) else np.frombuffer(buf, dtype=np.uint8)
        n = len(starts)
        pos = np.asarray(starts, dtype=np.int64)
        ends = np.asarray(ends, dtype=np.int64)
        live = (
            np.arange(n, dtype=np.int64) if null_mask is None else np.flatnonzero(~null_mask)
        )
        out, _final = self._decode_fields(pa, arr, pos, ends, live, n)
        return out

    def decode_blobs_arrow(self, blobs, null_mask=None):
        """blobs (sequence of bytes-like / None) → dict name →
        pyarrow.Array (length n; None blobs → null in every column):
        the blobs joined into one buffer, then :meth:`decode_spans_arrow`.
        ``null_mask`` (bool array, True = null cell) skips the
        per-blob None scan when the caller already has one."""
        data, starts, ends, null_mask = join_blobs(blobs, null_mask)
        return self.decode_spans_arrow(data, starts, ends, null_mask)

    def decode_blobs_to_pandas(self, blobs, null_mask=None):
        """blobs → dict name → pandas Series (numpy int64/float/bool and
        M8 for non-null columns, object-with-None for anything nullable,
        object str/bytes for text).

        No engine path calls this: Spark gets :meth:`decode_spans_arrow`
        through the decoder ladder. It is kept only for the benchmark's
        flat-decode and ``accepted_share`` probes (perfbench/probes.py)."""
        import pandas as pd

        arrays = self.decode_blobs_arrow(blobs, null_mask)
        kinds = {f[0]: (f[1], f[2]) for f in self.fields}
        out = {}
        for name, a in arrays.items():
            kind, nullable = kinds[name]
            has_null = a.null_count > 0
            if isinstance(kind, tuple):  # enum → str, fixed → bytes
                kind = "string" if kind[0] == "enum" else "bytes"
            if kind in ("string", "bytes"):
                # object array of str/bytes with None — same as the
                # per-datum path's .decode()/slice output
                out[name] = pd.Series(a.to_pandas(), dtype=object)
            elif has_null or nullable:
                # exact values with None (to_numpy would go float64 and
                # lose int precision past 2^53)
                out[name] = pd.Series(a.to_pylist(), dtype=object)
            else:
                out[name] = pd.Series(a.to_numpy(zero_copy_only=False))
        return out


def join_blobs(blobs, null_mask=None):
    """blobs (bytes-like / None) → (joined bytes, int64 starts, int64
    ends, bool null mask): blob i is ``data[starts[i]:ends[i]]``, and a
    None blob is an empty span with its mask bit set."""
    n = len(blobs)
    if null_mask is None:
        null_mask = np.fromiter((b is None for b in blobs), dtype=bool, count=n)
    if null_mask.any():
        present = ~null_mask
        parts = [b for b, ok in zip(blobs, present) if ok]
        lens = np.zeros(n, dtype=np.int64)
        lens[present] = np.fromiter(map(len, parts), dtype=np.int64, count=len(parts))
    else:
        parts = blobs if isinstance(blobs, list) else list(blobs)
        lens = np.fromiter(map(len, parts), dtype=np.int64, count=n)
    ends = np.cumsum(lens, dtype=np.int64)
    return b"".join(parts), ends - lens, ends, null_mask


def _build(schema: AvroSchema) -> Optional[VectorizedBlobDecoder]:
    if not isinstance(schema, RecordSchema) or not schema.fields:
        return None
    plans = []
    for f in schema.fields:
        p = _field_plan(f.schema)
        if p is None:
            return None
        plans.append((f.name, *p))
    return VectorizedBlobDecoder(plans)


@lru_cache(maxsize=256)
def get_vector_decoder(schema_json: str) -> Optional[VectorizedBlobDecoder]:
    """Vector decoder for an eligible flat record schema, else None
    (caller uses the generated per-datum decoder)."""
    try:
        return _build(parse_schema(schema_json))
    except Exception:  # noqa: BLE001 — never break the decode path
        return None


# ---------------------------------------------------------------------------
# Vectorized encoder (the K4 write path)
# ---------------------------------------------------------------------------


class VectorizedEncoder:
    """Vector ENCODER for the same eligible flat schemas, fed an Arrow
    RecordBatch: per-field byte streams are produced with numpy passes
    (zigzag varints via a 10-wide byte matrix + fused scatter; string
    and bytes runs read straight from the Arrow offset and data
    buffers; doubles reinterpreted), then interleaved into row-major
    datums with one scatter per field — byte-identical to the closure
    encoder (differential-pinned).

    A null comes only from the Arrow validity bitmap, so a double NaN
    is always a value and a NULL double always the null branch.
    Timestamps are Arrow's epoch micros (a UTC instant), whatever the
    column's time zone. Anything unexpected (an Arrow type the kind
    can't take, nulls in a non-nullable field, int32 overflow) raises
    VectorFallback; the caller uses the generated/closure encoder,
    which owns the typed AvroEncodeError semantics."""

    def __init__(self, fields) -> None:
        self.fields = fields
        self.names = [f[0] for f in fields]

    # -- field byte-stream builders (return lens int64[n], flat uint8 buf) --

    @staticmethod
    def _varint_bytes(vals):
        """Zigzag-varint encode an int64 array → (lens, flat bytes)."""
        v = vals.astype(np.int64, copy=False)
        z = (v.astype(np.uint64) << np.uint64(1)) ^ (v >> np.int64(63)).view(np.uint64)
        n = len(z)
        # byte length: 1 + number of 7-bit groups above the first
        lens = np.ones(n, dtype=np.int64)
        for k in range(1, 10):
            lens += (z >= (np.uint64(1) << np.uint64(7 * k))).astype(np.int64)
        mat = np.empty((n, 10), dtype=np.uint8)
        rest = z.copy()
        for k in range(10):
            mat[:, k] = (rest & np.uint64(0x7F)).astype(np.uint8)
            rest >>= np.uint64(7)
        # continuation bit on all but the last byte of each varint
        cont = np.arange(10, dtype=np.int64)[None, :] < (lens - 1)[:, None]
        mat |= cont.astype(np.uint8) << 7
        # gather the first lens[i] bytes of each row
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        bias = np.arange(n, dtype=np.int64) * 10 - offsets[:-1]
        idx = np.repeat(bias, lens)
        idx += np.arange(int(offsets[-1]), dtype=np.int64)
        return lens, mat.ravel()[idx]

    @staticmethod
    def _cast(pa, arr, typ):
        """Arrow's checked cast (an int too wide for a double, or out of
        int64, raises) → numpy values."""
        try:
            return arr.cast(typ).to_numpy(zero_copy_only=False)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError) as exc:
            raise VectorFallback(f"{arr.type} → {typ}: {exc}") from None

    @staticmethod
    def _runs(pa, arr):
        """Null-free string/binary array → (lens, flat buf) read from its
        offset and data buffers, honouring ``arr.offset``."""
        n = len(arr)
        if n == 0:
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.uint8)
        large = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
        odt = np.dtype(np.int64 if large else np.int32)
        _, offs_buf, data_buf = arr.buffers()
        offs = np.frombuffer(
            offs_buf, dtype=odt, count=n + 1, offset=arr.offset * odt.itemsize
        ).astype(np.int64)
        data = np.frombuffer(data_buf, dtype=np.uint8) if data_buf is not None else np.zeros(0, np.uint8)
        return np.diff(offs), data[offs[0]:offs[-1]]

    def _field_stream(self, pa, kind, arr):
        """Null-free Arrow array → (lens, flat buf) for one field's value
        bytes."""
        n = len(arr)
        typ = arr.type
        if kind in ("long", "int", "ts_us", "ts_ms"):
            if pa.types.is_timestamp(typ):
                arr = arr.cast(pa.timestamp("us", typ.tz))
            elif not pa.types.is_integer(typ):
                raise VectorFallback(f"{typ} column for {kind}")
            vals = self._cast(pa, arr, pa.int64())
            if kind == "ts_ms":
                vals = vals // 1000
            if kind == "int" and n and ((vals > 2147483647) | (vals < -2147483648)).any():
                raise VectorFallback("int out of range")
            return self._varint_bytes(vals)
        if kind in ("double", "float"):
            if not (pa.types.is_floating(typ) or pa.types.is_integer(typ)):
                raise VectorFallback(f"{typ} column for {kind}")
            vals = self._cast(pa, arr, pa.float64())
            width = 8 if kind == "double" else 4
            vals = vals.astype(np.float64 if width == 8 else np.float32, copy=False)
            return np.full(n, width, dtype=np.int64), np.ascontiguousarray(vals).view(np.uint8)
        if kind == "boolean":
            if not pa.types.is_boolean(typ):
                raise VectorFallback(f"{typ} column for boolean")
            return np.ones(n, dtype=np.int64), arr.to_numpy(zero_copy_only=False).astype(np.uint8)
        if kind in ("string", "bytes"):
            ok = (
                pa.types.is_string(typ) or pa.types.is_large_string(typ)
                if kind == "string"
                else pa.types.is_binary(typ) or pa.types.is_large_binary(typ)
            )
            if not ok:
                raise VectorFallback(f"{typ} column for {kind}")
            slens, sbuf = self._runs(pa, arr)
            plens, pbuf = self._varint_bytes(slens)
            # interleave prefix + payload per row
            lens = plens + slens
            offsets = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(lens, out=offsets[1:])
            out = np.empty(int(offsets[-1]), dtype=np.uint8)
            self._scatter(out, offsets[:-1], plens, pbuf)
            self._scatter(out, offsets[:-1] + plens, slens, sbuf)
            return lens, out
        raise VectorFallback(f"unsupported kind {kind}")  # pragma: no cover

    @staticmethod
    def _scatter(out, starts, lens, src):
        """out[starts[i] : starts[i]+lens[i]] = src runs (fused)."""
        total = int(lens.sum()) if len(lens) else 0
        if total == 0:
            return
        src_offs = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=src_offs[1:])
        bias = starts - src_offs
        idx = np.repeat(bias, lens)
        idx += np.arange(total, dtype=np.int64)
        out[idx] = src[:total]

    # -- whole batch ----------------------------------------------------

    def encode_buffer(self, batch):
        """Arrow RecordBatch (schema field columns) → (row_offsets
        int64[n+1], contiguous uint8 buffer) of row-major Avro datums —
        the pre-slicing form: ``buf[offs[i]:offs[i+1]]`` is datum i,
        and any contiguous row range is exactly an Avro container
        block's decompressed payload (the S2/K3 batch write shape)."""
        import pyarrow as pa

        n = batch.num_rows
        streams = []  # (lens, buf) per physical byte stream in row order
        for name, kind, nullable, null_idx in self.fields:
            arr = batch.column(name)
            if not arr.null_count:
                if nullable:
                    streams.append((np.ones(n, dtype=np.int64), np.full(n, (1 - null_idx) * 2, np.uint8)))
                streams.append(self._field_stream(pa, kind, arr))
                continue
            if not nullable:
                raise VectorFallback("null in non-nullable field")
            mask = arr.is_null().to_numpy(zero_copy_only=False)
            streams.append(
                (np.ones(n, dtype=np.int64), np.where(mask, null_idx * 2, (1 - null_idx) * 2).astype(np.uint8))
            )
            # value bytes only for non-null rows, zero-length elsewhere
            dlens, dbuf = self._field_stream(pa, kind, arr.drop_null())
            lens = np.zeros(n, dtype=np.int64)
            lens[~mask] = dlens
            streams.append((lens, dbuf))
        row_lens = np.zeros(n, dtype=np.int64)
        for lens, _ in streams:
            row_lens += lens
        row_offs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(row_lens, out=row_offs[1:])
        out = np.empty(int(row_offs[-1]), dtype=np.uint8)
        cursor = row_offs[:-1].copy()
        for lens, buf in streams:
            self._scatter(out, cursor, lens, np.asarray(buf))
            cursor = cursor + lens
        return row_offs, out


def _build_encoder(schema: AvroSchema) -> Optional[VectorizedEncoder]:
    if not isinstance(schema, RecordSchema) or not schema.fields:
        return None
    plans = []
    for f in schema.fields:
        p = _field_plan(f.schema)
        if p is None or isinstance(p[0], tuple):  # enum/fixed: decode-only
            return None
        plans.append((f.name, *p))
    return VectorizedEncoder(plans)


@lru_cache(maxsize=256)
def get_vector_encoder(schema_json: str) -> Optional[VectorizedEncoder]:
    """Vector encoder for an eligible flat record schema, else None."""
    try:
        return _build_encoder(parse_schema(schema_json))
    except Exception:  # noqa: BLE001
        return None

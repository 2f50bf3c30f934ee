"""The decoder ladder: the one place that picks a codec tier for
Spark-mode values.

Three tiers decode (and encode) the same values:

- **vector** (:mod:`.vectorized`): whole-batch numpy passes, flat
  records only, no schema resolution: ~0.4 µs/row on the benchmark's
  4-field flat datums as spans.
- **generated** (:mod:`.codegen`): one exec-compiled function per
  schema, any record codegen accepts (nested records, arrays, maps,
  unions, evolved writer→reader pairs). Nested values go straight into
  Arrow leaf columns: ~6.5 µs/row, decode plus Arrow assembly, on the
  benchmark's nested blocks read with an evolved schema (10.5–11.3
  µs/row when each nested value was a Python dict or list). Both
  figures: ``tools/codec_us_per_row.py``, best of 7, in process, on a
  4-core host. It owns exact per-row error semantics (PERMISSIVE
  nulls, typed errors) for the batches the vector tier gives up on.
- **closures** (:mod:`.binary`): the semantic reference, for what
  codegen declines (e.g. a record too wide for one generated body).

The rule, at every decode and encode site: the vector tier when it
accepts the schema and the batch, else the generated tier when codegen
accepts the schema, else closures. A :class:`VectorFallback` (malformed
bytes, invalid UTF-8, an Arrow type the vector encoder can't take)
re-runs that batch on the next tier, so a surprise costs time, never a
value. PERMISSIVE gives a null row for each undecodable datum on every
tier.

Raw datums enter as spans: :meth:`LadderDecoder.decode_spans` takes
one buffer and the ``(start, end)`` of each datum in it — an Arrow
binary column's own data buffer (:func:`arrow_spans`), or the bodies a
scanner found inside an envelope buffer. The vector tier decodes the
spans in place; the generated and closure tiers get one slice per row.
Every Spark decode site of a raw datum column enters here:
``from_avro``, ``from_avro_single_object`` (payload spans past each
message's header) and ``unwrap_kpl_spring_avro``. Container cells and
files enter as blocks (:meth:`LadderDecoder.decode_blocks`).

Decoders hand Spark Arrow on every tier: a RecordBatch whose schema is
Spark's Arrow form of the reader schema (``arrow_schema``), built by
one :func:`_record_batch`. Arrow keeps a double NaN as NaN and a
timestamp as a UTC instant, whatever the session time zone; the
generated tier's top-level timestamps become Arrow by one buffer view.
Encoders take Arrow too: a RecordBatch (or StructArray), whose validity
bitmaps alone say which values are null, so a double NaN stays a value
on every tier and timestamps are taken as the UTC instants Arrow
holds.

Both factories are cached per schema, so each executor process builds
a tier once; decoders and encoders hold no per-call state.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterable, Iterator, Optional

import numpy as np

from .binary import (
    BinaryReader,
    BinaryWriter,
    compile_decoder,
    compile_encoder,
    compile_resolver,
)
from .codegen import Columns, get_batch_encoder, get_batch_resolver
from .convert import avro_to_spark_type, nullable_struct
from .schema_model import parse_schema
from .vectorized import VectorFallback, get_vector_decoder, get_vector_encoder

__all__ = ["LadderDecoder", "LadderEncoder", "arrow_spans", "get_decoder", "get_encoder"]

# rows the generated and closure tiers gather before the block path
# emits a RecordBatch (a vector block is always one batch)
BATCH_ROWS = 8192


class LadderDecoder:
    """Spark-mode decoder for one (writer, reader) schema pair. Output
    columns are the reader's top-level fields."""

    def __init__(self, writer_json: str, reader_json: str) -> None:
        from pyspark.sql.pandas.types import to_arrow_schema

        self._vector = get_vector_decoder(writer_json) if writer_json == reader_json else None
        reader = parse_schema(reader_json)
        self.names = [f.name for f in reader.fields]
        self._rows = get_batch_resolver(writer_json, reader_json, mode="spark")
        if self._rows is None:
            writer = parse_schema(writer_json)
            self._rows = _Closures(
                compile_decoder(writer, mode="spark")
                if writer_json == reader_json
                else compile_resolver(writer, reader, mode="spark"),
                self.names,
            )
        self.arrow_schema = to_arrow_schema(nullable_struct(avro_to_spark_type(reader)))

    def decode_spans(self, buf, starts, ends, permissive: bool = False, null_mask=None):
        """Datum i is ``buf[starts[i]:ends[i]]`` → RecordBatch of
        ``arrow_schema``. ``buf`` is any buffer-protocol object (bytes,
        a pyarrow Buffer, a uint8 array); ``null_mask`` (True = null
        row) gives a row of nulls. The vector tier decodes the spans in
        place; the other tiers get one slice per row."""
        if self._vector is not None:
            try:
                arrays = self._vector.decode_spans_arrow(buf, starts, ends, null_mask)
            except VectorFallback:
                pass
            else:
                return _record_batch(arrays, len(starts), self.arrow_schema)
        view = memoryview(np.frombuffer(buf, dtype=np.uint8))
        blobs = [view[s:e] for s, e in zip(np.asarray(starts).tolist(), np.asarray(ends).tolist())]
        if null_mask is not None:
            for i in np.flatnonzero(null_mask).tolist():
                blobs[i] = None
        cols = self._rows.new_columns()
        self._rows.decode_blobs(blobs, cols, permissive)
        return self._flush(cols, self.arrow_schema)

    def decode_blocks(self, blocks: Iterable[tuple[int, bytes]], arrow_schema) -> Iterator:
        """Decompressed container blocks ``(count, data)`` → RecordBatches
        of ``arrow_schema``, whose fields are taken by name (absent ones
        are null). Row order follows the blocks."""
        cols = self._rows.new_columns()
        for count, data in blocks:
            if self._vector is not None:
                try:
                    arrays = self._vector.decode_stream_arrow(data, count)
                except VectorFallback:
                    pass
                else:
                    if cols.n:
                        yield self._flush(cols, arrow_schema)
                        cols = self._rows.new_columns()
                    yield _record_batch(arrays, count, arrow_schema)
                    continue
            self._rows.decode_stream(data, 0, count, cols)
            if cols.n >= BATCH_ROWS:
                yield self._flush(cols, arrow_schema)
                cols = self._rows.new_columns()
        if cols.n:
            yield self._flush(cols, arrow_schema)

    def _flush(self, cols, arrow_schema):
        """Generated or closure columns → RecordBatch."""
        named = {
            n: self._rows.column_array(i, cols, arrow_schema.field(n).type)
            for i, n in enumerate(self.names)
            if n in arrow_schema.names
        }
        return _record_batch(named, cols.n, arrow_schema)


class _Closures:
    """The closure tier behind the generated tier's interface: each row
    is a dict of Spark-mode values, and each column's values become
    Arrow by ``pa.array``."""

    def __init__(self, decode, names: list[str]) -> None:
        self._decode = decode
        self._names = names

    def new_columns(self) -> Columns:
        return Columns(len(self._names))

    def decode_blobs(self, blobs, cols: Columns, permissive: bool) -> None:
        for blob in blobs:
            row = None
            if blob is not None:
                try:
                    row = self._decode(BinaryReader(bytes(blob)))
                except Exception:
                    if not permissive:
                        raise
            self._append(cols, row)

    def decode_stream(self, data: bytes, pos: int, count: int, cols: Columns) -> int:
        br = BinaryReader(data, pos)
        for _ in range(count):
            self._append(cols, self._decode(br))
        return br.pos

    def _append(self, cols: Columns, row) -> None:
        for c, n in zip(cols.lists, self._names):
            c.append(None if row is None else row[n])
        cols.n += 1

    def column_array(self, i: int, cols: Columns, typ):
        import pyarrow as pa

        return pa.array(cols.lists[i], type=typ, from_pandas=False)


def arrow_spans(arr):
    """pyarrow binary (or large_binary) Array → ``(buf, starts, ends,
    null_mask)`` for :meth:`LadderDecoder.decode_spans`: cell i is
    ``buf[starts[i]:ends[i]]`` of the array's own data buffer, read
    through its offsets (``arr.offset`` taken into account) with no
    per-cell object. ``null_mask`` is None when no cell is null."""
    import pyarrow as pa

    n = len(arr)
    _, offsets, data = arr.buffers()
    if n == 0 or offsets is None:
        empty = np.zeros(0, dtype=np.int64)
        return b"", empty, empty, None
    dtype = np.dtype(np.int64 if pa.types.is_large_binary(arr.type) else np.int32)
    offs = np.frombuffer(offsets, dtype=dtype, count=n + 1, offset=arr.offset * dtype.itemsize)
    offs = offs.astype(np.int64)
    null_mask = arr.is_null().to_numpy(zero_copy_only=False) if arr.null_count else None
    return (b"" if data is None else data), offs[:-1], offs[1:], null_mask


def _record_batch(columns: dict, n: int, arrow_schema):
    """name → pyarrow Array or list → RecordBatch. NaN stays a float
    value (``from_pandas=False``), as the vector tier leaves it."""
    import pyarrow as pa

    arrays = []
    for field in arrow_schema:
        col = columns.get(field.name)
        if col is None:
            arrays.append(pa.nulls(n, field.type))
        elif isinstance(col, pa.Array):
            # e.g. naive timestamp[us] → Spark's timestamp[us, UTC]
            arrays.append(col if col.type == field.type else col.cast(field.type))
        else:
            arrays.append(pa.array(col, type=field.type, from_pandas=False))
    return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


class LadderEncoder:
    """Spark-mode encoder for one record schema. Schema fields missing
    from a batch take their defaults (closure tier)."""

    def __init__(self, schema_json: str) -> None:
        self._vector = get_vector_encoder(schema_json)
        self._generated = get_batch_encoder(schema_json)
        self._closure = compile_encoder(parse_schema(schema_json))

    def encode_buffer(self, batch) -> tuple[np.ndarray, np.ndarray]:
        """Arrow RecordBatch or StructArray → (row offsets int64[n+1],
        uint8 buffer): datum i is ``buf[offs[i]:offs[i+1]]``, so any row
        range is a container block's payload."""
        import pyarrow as pa

        if isinstance(batch, pa.StructArray):
            batch = pa.RecordBatch.from_struct_array(batch)
        columns = set(batch.schema.names)
        if self._vector is not None and columns.issuperset(self._vector.names):
            try:
                return self._vector.encode_buffer(batch)
            except VectorFallback:
                pass
        if self._generated is not None and columns.issuperset(self._generated.names):
            datums = self._generated.encode_columns(
                self._generated.columns_from_arrow(batch), batch.num_rows
            )
        else:
            datums = []
            for rec in batch.to_pylist():
                w = BinaryWriter()
                self._closure(w, rec)
                datums.append(w.getvalue())
        offs = np.zeros(len(datums) + 1, dtype=np.int64)
        np.cumsum(np.fromiter(map(len, datums), dtype=np.int64, count=len(datums)), out=offs[1:])
        return offs, np.frombuffer(b"".join(datums), dtype=np.uint8)

    def encode_arrow(self, batch):
        """Arrow RecordBatch or StructArray → pyarrow binary array, one
        datum per row."""
        import pyarrow as pa

        offs, buf = self.encode_buffer(batch)
        # int32 offsets cap a binary array at 2 GiB
        typ = pa.binary() if int(offs[-1]) < 2**31 else pa.large_binary()
        offs = offs.astype(np.int32 if typ == pa.binary() else np.int64)
        return pa.Array.from_buffers(
            typ, len(offs) - 1, [None, pa.py_buffer(offs), pa.py_buffer(buf)]
        )


@lru_cache(maxsize=256)
def get_decoder(writer_json: str, reader_json: Optional[str] = None) -> LadderDecoder:
    """Cached decoder for data written with ``writer_json`` and read as
    ``reader_json`` (default: the writer schema). Both are canonical
    ``json.dumps(schema.to_json())`` text."""
    return LadderDecoder(writer_json, reader_json or writer_json)


@lru_cache(maxsize=256)
def get_encoder(schema_json: str) -> LadderEncoder:
    """Cached encoder for the record schema ``schema_json``."""
    return LadderEncoder(schema_json)

"""In-process µs/row of the codec ladder's two hot paths, on the
benchmark's own inputs (``perfbench.gen``, read only):

* ``vector.flat_spans`` — FLAT_SCHEMA datums as spans of one buffer,
  through ``LadderDecoder.decode_spans`` (the vector tier, as
  ``from_avro`` and the envelope unwrap use it);
* ``generated.nested_evolved_blocks`` — container_read's nested
  deflate blocks, already inflated, read with the evolved reader schema
  through ``LadderDecoder.decode_blocks`` (the generated resolver):
  decode plus Arrow assembly, as ``read_avro`` runs it per split.

No SparkSession. Each path runs ``--repeats`` times and the best run
counts, so the figure is the path's cost, not the host's noise.

Usage::

    python tools/codec_us_per_row.py [--seed 5] [--rows 50000] [--repeats 7]

Prints a markdown table (path, rows, best µs/row) for SCALING.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

from perfbench import gen  # noqa: E402
from redshift_avro_spark.avroio.block_codecs import get_codec  # noqa: E402
from redshift_avro_spark.avroio.container import iter_raw_blocks, read_header  # noqa: E402
from redshift_avro_spark.avroio.ladder import get_decoder  # noqa: E402
from redshift_avro_spark.avroio.schema_model import parse_schema  # noqa: E402


def _canonical(schema: dict) -> str:
    return json.dumps(parse_schema(schema).to_json())


def _best_us_per_row(fn, rows: int, repeats: int) -> float:
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best / rows * 1e6


def flat_spans(seed: int, rows: int):
    """FLAT_SCHEMA datums → a zero-argument decode of their spans."""
    datums = gen.flat_datums(seed, rows)
    buf = b"".join(datums)
    ends = np.cumsum([len(d) for d in datums], dtype=np.int64)
    starts = ends - np.array([len(d) for d in datums], dtype=np.int64)
    dec = get_decoder(_canonical(gen.FLAT_SCHEMA))
    return lambda: dec.decode_spans(buf, starts, ends)


def nested_evolved_blocks(seed: int, rows: int):
    """container_read's blocks → a zero-argument evolved decode of them."""
    data = gen.nested_container(gen.nested_rows(seed, rows), gen.nested_sync(seed))
    header = read_header(data)
    inflate = get_codec(header.codec)
    blocks = [(n, inflate.decompress(b)) for n, b in iter_raw_blocks(data, header.header_len, header.sync)]
    dec = get_decoder(_canonical(gen.NESTED_SCHEMA), _canonical(gen.EVOLVED_SCHEMA))
    return lambda: list(dec.decode_blocks(blocks, dec.arrow_schema))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--rows", type=int, default=50_000)
    ap.add_argument("--repeats", type=int, default=7)
    args = ap.parse_args()
    print("| path | rows | best µs/row |")
    print("|---|---:|---:|")
    for name, build in (
        ("vector.flat_spans", flat_spans),
        ("generated.nested_evolved_blocks", nested_evolved_blocks),
    ):
        us = _best_us_per_row(build(args.seed, args.rows), args.rows, args.repeats)
        print(f"| {name} | {args.rows} | {us:.2f} |")


if __name__ == "__main__":
    main()

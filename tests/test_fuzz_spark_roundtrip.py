"""Deterministic fuzz: 500 random nested datums through the FULL Spark
column path (createDataFrame → to_avro → from_avro → collect) must come
back value-identical, plus rows with a NaN ``ratio``, which must come
back NaN. Complements the pure-Python hypothesis tests in
test_avroio_codec with the Spark↔Arrow UDF boundary in the loop.
"""

from __future__ import annotations

import math
import random
import string

from pyspark.sql import functions as F

SCHEMA = {
    "type": "record",
    "name": "Fuzz",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "flag", "type": "boolean"},
        {"name": "ratio", "type": "double"},
        {"name": "label", "type": ["null", "string"], "default": None},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "counts", "type": {"type": "map", "values": "long"}},
        {
            "name": "nested",
            "type": {
                "type": "record",
                "name": "Inner",
                "fields": [
                    {"name": "x", "type": "int"},
                    {"name": "payload", "type": "bytes"},
                ],
            },
        },
    ],
}

DDL = (
    "id long, flag boolean, ratio double, label string, tags array<string>, "
    "counts map<string,long>, nested struct<x: int, payload: binary>"
)


def _rand_row(rng: random.Random) -> tuple:
    s = lambda: "".join(rng.choices(string.printable[:94], k=rng.randint(0, 12)))
    return (
        rng.randint(-(2**62), 2**62),
        rng.random() < 0.5,
        rng.choice([0.0, -0.0, 1.5, math.inf, -math.inf, rng.uniform(-1e300, 1e300)]),
        None if rng.random() < 0.3 else s(),
        [s() for _ in range(rng.randint(0, 5))],
        {s() or "k": rng.randint(-(2**31), 2**31) for _ in range(rng.randint(0, 4))},
        (rng.randint(-(2**31), 2**31 - 1), bytearray(rng.randbytes(rng.randint(0, 16)))),
    )


def test_fuzz_roundtrip(spark):
    from redshift_avro_spark.sources.columns import from_avro, to_avro

    rng = random.Random(20260813)
    rows = [_rand_row(rng) for _ in range(500)]
    rows += [r[:2] + (math.nan,) + r[3:] for r in (_rand_row(rng) for _ in range(5))]
    df = spark.createDataFrame(rows, DDL)
    out = (
        df.select(to_avro(F.struct(*df.columns), SCHEMA).alias("p"))
        .select(from_avro("p", SCHEMA).alias("r"))
        .select("r.*")
        .collect()
    )
    assert len(out) == len(rows)

    def norm(row):
        return (
            row[0],
            row[1],
            repr(row[2]),
            row[3],
            tuple(row[4]),
            tuple(sorted((row[5] or {}).items())),
            (row[6][0], bytes(row[6][1])),
        )

    got = sorted(norm(r) for r in out)
    want = sorted(norm(r) for r in rows)
    assert got == want

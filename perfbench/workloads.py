"""The benchmark's workloads: inputs, one timed op, and its result check."""

from __future__ import annotations

import os
from contextlib import nullcontext

from pyspark.sql import functions as F

from . import gen


def _no_span(name: str, op=None):
    return nullcontext()


class Workload:
    """One workload. Subclasses provide

    - ``prepare(seed, work)`` — generate inputs under ``work`` and derive
      the expected result (not part of set-up time), setting ``records``,
      the input records one op consumes;
    - ``setup(spark)`` — the engine-side set-up a job pays before its
      first query;
    - ``op(spark)`` — one operation; True iff its result matches the
      value derived from the seed.

    ``span(name)`` wraps each call into the engine (a tracer's, or none).
    """

    name = ""

    def __init__(self, span=_no_span) -> None:
        self.span = span


class EnvelopeIngest(Workload):
    """KPL cells → fused KPL/Spring/Avro unwrap → per-type count and sum."""

    name = "envelope_ingest"
    N_RECORDS = 400_000

    def prepare(self, seed: int, work: str) -> None:
        self.cells_dir = os.path.join(work, "cells")
        cells, self.expected = gen.envelope_cells(seed, self.N_RECORDS)
        gen.write_cells(cells, self.cells_dir, 8)
        self.records = self.N_RECORDS

    def setup(self, spark) -> None:
        from redshift_avro_spark.sources.envelopes import unwrap_kpl_spring_avro

        self._unwrap = unwrap_kpl_spring_avro

    def op(self, spark) -> bool:
        with self.span("sources.envelopes.unwrap_kpl_spring_avro"):
            decoded = self._unwrap(spark.read.parquet(self.cells_dir), "cell", gen.FLAT_SCHEMA)
        totals = decoded.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            # exact: decimal arithmetic, independent of partition order
            F.sum(F.col("amount_cents").cast("decimal(18,0)") / F.lit(100)).alias("amount"),
        )
        with self.span("session.collect"):
            rows = totals.collect()
        return {r["event_type"]: (r["n"], r["amount"]) for r in rows} == self.expected


class ContainerRead(Workload):
    """Nested deflate Avro files → evolved ``read_avro`` → aggregate.

    The input is N_ROWS distinct records in N_FILES container files,
    each stored COPIES times, so one op decodes N_ROWS × COPIES records
    while generation stays cheap. The four files are four read splits,
    one per core of ``local[4]``: with 8 or 32 splits the per-task cost
    and a ragged last wave of tasks made op times swing by a third."""

    name = "container_read"
    N_ROWS = 120_000
    N_FILES = 2
    COPIES = 2

    def prepare(self, seed: int, work: str) -> None:
        rows = gen.nested_rows(seed, self.N_ROWS)
        sync = gen.nested_sync(seed)
        self.src = os.path.join(work, "avro")
        os.makedirs(self.src)
        step = -(-self.N_ROWS // self.N_FILES)
        for i in range(self.N_FILES):
            data = gen.nested_container(rows[i * step : (i + 1) * step], sync)
            for c in range(self.COPIES):
                with open(os.path.join(self.src, f"part-{i:02d}-{c}.avro"), "wb") as f:
                    f.write(data)
        self.expected = {k: v * self.COPIES for k, v in gen.nested_expected(rows).items()}
        self.records = self.N_ROWS * self.COPIES

    def setup(self, spark) -> None:
        from redshift_avro_spark.sources.files import read_avro

        self._read = read_avro

    def op(self, spark) -> bool:
        with self.span("sources.files.read_avro"):
            df = self._read(spark, self.src, reader_schema=gen.EVOLVED_SCHEMA)

        def is_null(c):
            return F.sum(F.col(c).isNull().cast("long"))

        zero = F.lit(0).cast("long")
        totals = df.agg(
            F.count(F.lit(1)).alias("rows"),
            is_null("customer.email").alias("email_nulls"),
            is_null("discount_cents").alias("discount_nulls"),
            is_null("note").alias("note_nulls"),
            F.sum(F.size("items")).alias("items"),
            F.sum(F.aggregate("items", zero, lambda acc, i: acc + i["qty"] * i["price_cents"])).alias("item_cents"),
            F.sum(F.coalesce(F.col("discount_cents"), zero)).alias("discount_cents"),
            F.sum(F.aggregate(F.map_values("tags"), zero, lambda acc, v: acc + v)).alias("tag_sum"),
            F.sum(F.col("customer.tier").cast("long")).alias("tier_sum"),
            F.sum((F.col("channel") == gen.EVOLVED_DEFAULT).cast("long")).alias("channel_default"),
        )
        with self.span("session.collect"):
            got = totals.collect()[0].asDict()
        return got == self.expected


WORKLOADS = {w.name: w for w in (EnvelopeIngest, ContainerRead)}

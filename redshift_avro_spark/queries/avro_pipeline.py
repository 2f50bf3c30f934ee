"""Avro-pipeline queries: the engine's distinguishing surface.

These run the reference's actual dataflow (SURVEY §3) INSIDE Spark over
the `events` table, then aggregate — so the DuckDB oracle is simply the
same aggregate on the original rows (the decode pipeline must be an
exact identity for the hash to match):

  q20: struct → to_avro → hex (Redshift VARBINARY shape, S1) → unhex →
       from_avro → filter/groupBy  (raw-datum path, §3.2)
  q21: rows → per-group Object Container Files (K3) in a binary column
       → decode_container → explode → agg  (container path, §3.1)
  q22: two streams with DIFFERENT schemas, decoded per-stream with a
       registry-supplied schema and unioned  (registry path, S4)
  q23: writer/reader schema EVOLUTION in-flight: reader drops a field,
       promotes int→long, fills a defaulted field  (C5/C7)
"""

from __future__ import annotations

import json

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load_table, register
from ..operators.staging import spread_small_input
from ..sources.columns import decode_container, from_avro, from_hex, to_avro, to_hex

EVENT_AVRO_SCHEMA = {
    "type": "record",
    "name": "Event",
    "namespace": "engine.events",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {"name": "user_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
        {"name": "props", "type": ["null", "string"], "default": None},
    ],
}

_EVENT_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")


@register(
    "q20_avro_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts
    FROM events
    WHERE value > 1.0
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q20_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S3+K4 in one plan: encode each event as an Avro datum, hex it
    (the exact shape Redshift streaming ingestion presents, README.md:12),
    decode back, and aggregate. The oracle sees the original table — any
    codec drift breaks the hash.

    Partitioning via staging.spread_small_input: a one-file input is
    spread round-robin to cores/2 tasks, few enough to amortize the two
    Python-worker Arrow hops (cores/1 measured SLOWER at sf0.1)."""
    e = spread_small_input(load_table(spark, sf_dir, "events"))
    hexed = e.select(to_hex(to_avro(F.struct(*_EVENT_COLS), EVENT_AVRO_SCHEMA)).alias("hexcell"))
    decoded = hexed.select(from_avro(from_hex("hexcell"), EVENT_AVRO_SCHEMA).alias("ev")).select("ev.*")
    return (
        decoded.where(F.col("value") > 1.0)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("event_type")
    )


@register(
    "q21_container_cells",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q21_container_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 flagship shape: pack events into Object Container Files
    built DISTRIBUTED via per-partition ``mapInArrow`` (K3) — one cell
    per Arrow batch, so parallelism follows the input partitioning and
    no group ever materializes unbounded (the round-1 per-bucket
    ``applyInPandas`` capped parallelism at 32 tasks and held a whole
    bucket in memory) — land them as binary cells, then
    decode_container + explode (S2/U4) and aggregate. Identity oracle
    proves container write→read is lossless."""
    import io as _io

    from ..avroio.container import ContainerWriter

    e = load_table(spark, sf_dir, "events")
    schema_json = json.dumps(EVENT_AVRO_SCHEMA)

    def make_cells(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            buf = _io.BytesIO()
            w = ContainerWriter(buf, schema_json)
            w.append_arrow(batch)
            w.close()
            yield pa.RecordBatch.from_pydict({"cell": pa.array([buf.getvalue()], pa.binary())})

    # spread cell building across cores when the input arrives as a
    # few small files (multi-file input makes this a cheap no-op)
    cells = spread_small_input(e.select(*_EVENT_COLS)).mapInArrow(make_cells, "cell binary")
    decoded = cells.select(
        F.explode(decode_container("cell", EVENT_AVRO_SCHEMA)).alias("ev")
    ).select("ev.*")
    return (
        decoded.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


# two per-stream schemas for the registry scenario: stream B carries a
# reduced record (no props / value as int cents)
_STREAM_A_SCHEMA = EVENT_AVRO_SCHEMA
_STREAM_B_SCHEMA = {
    "type": "record",
    "name": "EventLite",
    "namespace": "engine.events",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "user_id", "type": "long"},
        {"name": "event_type", "type": "string"},
    ],
}


@register(
    "q22_registry_streams",
    oracle="""
    SELECT stream, event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM (
      SELECT 'stream-a' AS stream, event_type, user_id FROM events WHERE event_id % 2 = 0
      UNION ALL
      SELECT 'stream-b' AS stream, event_type, user_id FROM events WHERE event_id % 2 = 1
    )
    GROUP BY stream, event_type
    ORDER BY stream, event_type
    """,
)
def q22_registry_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 at scale: two streams land interleaved, each encoded with its
    own registry schema (keyed by stream name). Decode resolves each
    stream with its schema — the Spark analogue of the Glue per-stream
    UDF (glue-schema-per-stream-udf/lambda_function.py:45-56), with the
    registry consulted on the driver and schemas shipped in closures."""
    from ..sources.registry import InMemorySchemaRegistry

    registry = InMemorySchemaRegistry(
        {"stream-a": _STREAM_A_SCHEMA, "stream-b": _STREAM_B_SCHEMA}
    )
    e = spread_small_input(load_table(spark, sf_dir, "events"))
    a = e.where(F.col("event_id") % 2 == 0).select(
        F.lit("stream-a").alias("stream"),
        to_avro(F.struct(*_EVENT_COLS), registry.get_schema("stream-a")).alias("payload"),
    )
    b = e.where(F.col("event_id") % 2 == 1).select(
        F.lit("stream-b").alias("stream"),
        to_avro(
            F.struct("event_id", "user_id", "event_type"), registry.get_schema("stream-b")
        ).alias("payload"),
    )
    decoded_a = a.select(
        "stream", from_avro("payload", registry.get_schema("stream-a")).alias("ev")
    ).select("stream", "ev.event_type", "ev.user_id")
    decoded_b = b.select(
        "stream", from_avro("payload", registry.get_schema("stream-b")).alias("ev")
    ).select("stream", "ev.event_type", "ev.user_id")
    return (
        decoded_a.unionAll(decoded_b)
        .groupBy("stream", "event_type")
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users"))
        .orderBy("stream", "event_type")
    )


_EVOLVED_READER = {
    "type": "record",
    "name": "Event",
    "namespace": "engine.events",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
        {"name": "source", "type": "string", "default": "kinesis"},
    ],
}


@register(
    "q23_schema_evolution",
    oracle="""
    SELECT event_type, 'kinesis' AS source,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q23_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5/C7 in-flight: data written with the full writer schema is read
    with an EVOLVED reader — extra writer fields skipped (ts, user_id,
    props), defaulted reader field filled (source) — then aggregated."""
    e = spread_small_input(load_table(spark, sf_dir, "events"))
    payload = e.select(to_avro(F.struct(*_EVENT_COLS), EVENT_AVRO_SCHEMA).alias("payload"))
    decoded = payload.select(
        from_avro("payload", EVENT_AVRO_SCHEMA, reader_schema=_EVOLVED_READER).alias("ev")
    ).select("ev.*")
    return (
        decoded.groupBy("event_type", "source")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select("event_type", "source", "n", "total_value")
        .orderBy("event_type")
    )


_KPL_EVENT_SCHEMA = {
    "type": "record",
    "name": "KplEvent",
    "namespace": "engine.events",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "user_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
    ],
}


@register(
    "q24_kpl_spring_pipeline",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q24_kpl_spring_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §3.3 end-to-end: three nested envelopes built
    DISTRIBUTED (Avro datum → Spring embedded-header message → KPL
    protobuf aggregate per Arrow batch via mapInArrow → hex, the exact
    VARBINARY shape the springcloud UDF receives), then unwrapped with
    ``unhex`` (JVM) + the fused ``unwrap_kpl_spring_avro`` stage (KPL
    deagg → Spring headers → Avro decode in ONE mapInArrow — the
    composable ``explode_kpl → extract_spring_headers → from_avro``
    chain costs an Arrow round trip per link) and aggregated. Identity oracle proves the whole envelope stack is
    lossless (springcloud-lambda-udf/lambda_function.py:142-181,
    with its KPL decode bug fixed per spec — SURVEY Appendix A.6)."""
    import json as _json

    from ..avroio.ladder import get_encoder
    from ..avroio.schema_model import parse_schema
    from ..sources.envelopes import (
        build_spring_message,
        encode_kpl_simple,
        unwrap_kpl_spring_avro,
    )

    schema = parse_schema(_json.dumps(_KPL_EVENT_SCHEMA))
    schema_json = _json.dumps(schema.to_json())
    content_type = "application/vnd.kplevent.v1+avro"
    kpl_cols = ["event_id", "user_id", "event_type", "value"]

    def make_cells(batches):
        enc = get_encoder(schema_json)
        # the Spring header block is CONSTANT across rows — encode it
        # once per batch instead of json.dumps-ing the same dict per
        # row (the per-row build dominated q24's measured time; the
        # concat below is byte-identical to build_spring_message)
        spring_prefix = build_spring_message({"contentType": content_type}, b"")
        for batch in batches:
            if not batch.num_rows:
                continue
            bodies = enc.encode_arrow(batch).to_pylist()
            blob = encode_kpl_simple("pk", [spring_prefix + body for body in bodies])
            yield pa.RecordBatch.from_pydict({"hexcell": pa.array([blob.hex()], pa.string())})

    e = load_table(spark, sf_dir, "events")
    cells = spread_small_input(e.select(*kpl_cols)).mapInArrow(make_cells, "hexcell string")
    decoded = unwrap_kpl_spring_avro(
        cells.select(F.unhex("hexcell").alias("agg")), "agg", _KPL_EVENT_SCHEMA
    )
    return (
        decoded.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


_LOGICAL_SCHEMA = {
    "type": "record",
    "name": "OrderLogical",
    "namespace": "engine.orders",
    "fields": [
        {"name": "o_orderkey", "type": "long"},
        {
            "name": "price",
            "type": {"type": "bytes", "logicalType": "decimal", "precision": 12, "scale": 2},
        },
        {"name": "odate", "type": {"type": "int", "logicalType": "date"}},
        {"name": "priority", "type": "string"},
    ],
}


@register(
    "q25_logical_types_roundtrip",
    oracle="""
    SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS yr,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
           CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS first_day
    FROM orders
    GROUP BY yr
    ORDER BY yr
    """,
)
def q25_logical_types_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6/E7 on the declared surface: decimal(12,2)-over-bytes
    (two's-complement big-endian, io.py:486-511 semantics) and date
    logical types survive an encode→decode roundtrip bit-exactly —
    the aggregate runs on the DECODED columns while the oracle reads
    the originals."""
    o = spread_small_input(load_table(spark, sf_dir, "orders"))
    src = o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
        F.col("o_orderdate").cast("date").alias("odate"),
        F.col("o_orderpriority").alias("priority"),
    )
    payload = src.select(to_avro(F.struct("o_orderkey", "price", "odate", "priority"), _LOGICAL_SCHEMA).alias("p"))
    decoded = payload.select(from_avro("p", _LOGICAL_SCHEMA).alias("ev")).select("ev.*")
    return (
        decoded.groupBy(F.year("odate").alias("yr"))
        .agg(
            F.count("*").alias("n"),
            F.sum("price").cast("double").alias("total"),
            F.min("odate").cast("string").alias("first_day"),
        )
        .orderBy("yr")
    )


@register(
    "q141_format_equivalence",
    oracle="""
    WITH digest AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             md5(string_agg(concat(CAST(doc_id AS VARCHAR), '|', lang, '|',
                                   CAST(n_chars AS VARCHAR)), ',' ORDER BY doc_id))
               AS content_digest
      FROM documents
    )
    SELECT fmt, n, content_digest FROM (
      SELECT 'avro' AS fmt, n, content_digest FROM digest
      UNION ALL SELECT 'jsonl', n, content_digest FROM digest
      UNION ALL SELECT 'parquet', n, content_digest FROM digest
    ) ORDER BY fmt
    """,
)
def q141_format_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format ingestion equivalence — the engine-level contract
    that FORMAT IS AN ENCODING DETAIL: the same records are landed
    three ways (Avro container files through this repo's writer, JSON
    lines, parquet), read back through each format's own reader
    (AvroDataSource sync-marker splits, text+from_json, native
    parquet), and reduced to one (count, order-insensitive content
    digest) row per format. The digests must be identical across
    formats AND match the oracle's digest computed from the source
    table — any row lost, duplicated or altered by any of the three
    read/write paths breaks the hash.

    Scale shape: three distributed writes + three reads + three
    single-row digest aggregations (md5 over the doc_id-ordered
    concat, computed identically in DuckDB)."""
    import atexit
    import shutil
    import tempfile

    from ..sources.files import read_avro, write_avro

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .coalesce(4)
    )
    root = tempfile.mkdtemp(prefix="fmt-equiv-")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    write_avro(docs, f"{root}/avro", compression="deflate")
    docs.select(F.to_json(F.struct("doc_id", "lang", "n_chars")).alias("value")).write.text(
        f"{root}/jsonl"
    )
    docs.write.parquet(f"{root}/parquet")

    backs = {
        "avro": read_avro(spark, f"{root}/avro").select("doc_id", "lang", "n_chars"),
        "jsonl": (
            spark.read.text(f"{root}/jsonl")
            .select(F.from_json("value", "doc_id BIGINT, lang STRING, n_chars BIGINT").alias("r"))
            .select("r.doc_id", "r.lang", "r.n_chars")
        ),
        "parquet": spark.read.parquet(f"{root}/parquet").select("doc_id", "lang", "n_chars"),
    }
    parts = []
    for fmt, df in backs.items():
        parts.append(
            df.agg(
                F.count("*").cast("long").alias("n"),
                F.md5(
                    F.expr(
                        "array_join(transform(array_sort(collect_list(struct(doc_id, lang, n_chars))),"
                        " r -> concat(CAST(r.doc_id AS STRING), '|', r.lang, '|',"
                        " CAST(r.n_chars AS STRING))), ',')"
                    )
                ).alias("content_digest"),
            ).select(F.lit(fmt).alias("fmt"), "n", "content_digest")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("fmt")

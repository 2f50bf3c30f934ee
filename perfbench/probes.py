"""Per-layer probes for the traced run.

Each probe times one public function of one engine layer as its own
action, on inputs generated from the run's seed. Every workload runs the
same probes on the same inputs, after its own ops; a probe of a layer
the workload's ops did not warm includes that layer's first-use cost, so
compare a probe's value across revisions of one workload. Spark probes
run under their own job group, so they never mix into the per-op stage
metrics.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import tempfile

from pyspark.sql import functions as F

from . import gen
from .obs import timed

N_FLAT = 50_000
N_NESTED = 10_000
N_ENVELOPE = 50_000
N_FILES = 20_000
N_CORPUS = 3_000
REPEATS = 3


def _per_row_us(fn, n: int) -> float:
    """Median over REPEATS calls of ``fn()``, in µs per row."""
    return statistics.median(timed(fn)[1] for _ in range(REPEATS)) / n * 1e6


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*"), recursive=True) if os.path.isfile(p))


def avroio_probes(seed: int) -> dict:
    import numpy as np

    from redshift_avro_spark.avroio.binary import BinaryReader, compile_decoder
    from redshift_avro_spark.avroio.block_codecs import get_codec
    from redshift_avro_spark.avroio.codegen import get_batch_decoder, get_batch_resolver
    from redshift_avro_spark.avroio.container import iter_raw_blocks, read_header, write_container
    from redshift_avro_spark.avroio.schema_model import parse_schema
    from redshift_avro_spark.avroio.vectorized import get_vector_decoder

    flat_json = json.dumps(gen.FLAT_SCHEMA)
    nested_json = json.dumps(gen.NESTED_SCHEMA)
    evolved_json = json.dumps(gen.EVOLVED_SCHEMA)
    flat = gen.flat_datums(seed, N_FLAT)
    rows = gen.nested_rows(seed, N_NESTED)
    nested_schema = parse_schema(gen.NESTED_SCHEMA)
    out = {}

    out["avroio.encode_us_per_row.nested"] = _per_row_us(
        lambda: write_container(rows, nested_schema, codec="null"), N_NESTED
    )
    # the datums of a null-codec container are the encoder's output; cut
    # them apart with the closure decoder to get one blob per record
    dec_nested = compile_decoder(nested_schema, mode="spark")
    data = write_container(rows, nested_schema, codec="null")
    header = read_header(data)
    nested = []
    blocks = []
    for count, block in iter_raw_blocks(data, header.header_len, header.sync):
        blocks.append(block)
        r = BinaryReader(block)
        for _ in range(count):
            start = r.pos
            dec_nested(r)
            nested.append(block[start : r.pos])
    if len(nested) != N_NESTED:
        raise AssertionError("nested probe input lost records")

    def closures(dec, blobs):
        return lambda: [dec(BinaryReader(b)) for b in blobs]

    def generated(bd, blobs):
        return lambda: bd.decode_blobs(blobs, bd.new_columns())

    dec_flat = compile_decoder(parse_schema(gen.FLAT_SCHEMA), mode="spark")
    out["avroio.binary.decode_us_per_row.flat"] = _per_row_us(closures(dec_flat, flat), N_FLAT)
    out["avroio.binary.decode_us_per_row.nested"] = _per_row_us(closures(dec_nested, nested), N_NESTED)
    out["avroio.codegen.decode_us_per_row.flat"] = _per_row_us(
        generated(get_batch_decoder(flat_json, "spark"), flat), N_FLAT
    )
    out["avroio.codegen.decode_us_per_row.nested"] = _per_row_us(
        generated(get_batch_decoder(nested_json, "spark"), nested), N_NESTED
    )
    out["avroio.codegen.resolve_us_per_row.nested"] = _per_row_us(
        generated(get_batch_resolver(nested_json, evolved_json, "spark"), nested), N_NESTED
    )
    # a schema the vector tier does not take decodes on the generated tier
    vd = get_vector_decoder(flat_json)
    mask = np.zeros(N_FLAT, dtype=bool)
    out["avroio.vectorized.decode_us_per_row.flat"] = (
        _per_row_us(lambda: vd.decode_blobs_to_pandas(flat, mask), N_FLAT)
        if vd is not None
        else out["avroio.codegen.decode_us_per_row.flat"]
    )

    deflate = get_codec("deflate")
    raw_mb = sum(len(b) for b in blocks) / 1e6
    packed = [deflate.compress(b) for b in blocks]
    out["avroio.block_codecs.deflate.compress_mb_per_s"] = raw_mb / statistics.median(
        timed(lambda: [deflate.compress(b) for b in blocks])[1] for _ in range(REPEATS)
    )
    out["avroio.block_codecs.deflate.decompress_mb_per_s"] = raw_mb / statistics.median(
        timed(lambda: [deflate.decompress(b) for b in packed])[1] for _ in range(REPEATS)
    )
    return out


def envelope_probes(seed: int, cells: list) -> dict:
    import numpy as np

    from redshift_avro_spark.avroio.vectorized import VectorFallback, get_vector_decoder
    from redshift_avro_spark.sources.envelopes import decode_kpl_aggregate, parse_spring_message

    def unwrap():
        return [parse_spring_message(r.data)[1] for c in cells for r in decode_kpl_aggregate(c).records]

    bodies = unwrap()
    out = {"sources.envelopes.unwrap_us_per_record": _per_row_us(unwrap, len(bodies))}
    # the fused unwrap hands each Arrow batch's bodies to the vector tier;
    # a VectorFallback sends the whole batch down the per-datum ladder, and
    # a schema the tier does not take (no decoder) sends every batch there
    vd = get_vector_decoder(json.dumps(gen.FLAT_SCHEMA))
    tried = accepted = 0
    for i in range(0, len(bodies), 10_000):
        batch = bodies[i : i + 10_000]
        tried += 1
        if vd is None:
            continue
        try:
            vd.decode_blobs_to_pandas(batch, np.zeros(len(batch), dtype=bool))
            accepted += 1
        except VectorFallback:
            pass
    out["avroio.vectorized.accepted_share"] = accepted / tried
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def spark_probes(spark, seed: int, work: str, cells_dir: str, span) -> dict:
    from redshift_avro_spark.operators.dedup import minhash_candidate_pairs, ngram_jaccard_pairs
    from redshift_avro_spark.operators.staging import materialize
    from redshift_avro_spark.operators.text import language_id, quality_features, token_count
    from redshift_avro_spark.queries import load_all
    from redshift_avro_spark.sources.files import read_avro, write_avro

    sc = spark.sparkContext
    out = {}

    def measure(name: str, fn, *args, **kwargs):
        """(result, seconds) of ``fn`` under its own job group and span."""
        sc.setJobGroup(f"probe:{name}", name)
        with span(name):
            return timed(fn, *args, **kwargs)

    # identity mapInPandas over the envelope cell column: the Arrow hop alone
    def identity(batches):
        yield from batches

    cells = spark.read.parquet(cells_dir)
    out["sources.columns.arrow_hop_s"] = measure("sources.columns.arrow_hop", _noop, cells.mapInPandas(identity, cells.schema))[1]

    # Avro file sink and source: write, then an evolved read forced by a noop
    nested_dir = os.path.join(work, "probe_nested")
    os.makedirs(nested_dir, exist_ok=True)
    import pyarrow.parquet as pq

    table = gen.nested_arrow_table(gen.nested_rows(seed, N_FILES))
    step = N_FILES // 4
    for i in range(4):
        pq.write_table(table.slice(i * step, step), os.path.join(nested_dir, f"part-{i:05d}.parquet"))
    avro_dir = os.path.join(work, "probe_avro")
    out["sources.files.write_s"] = measure(
        "sources.files.write_avro",
        write_avro, spark.read.parquet(nested_dir), avro_dir, compression="deflate", avro_schema=gen.NESTED_SCHEMA
    )[1]
    avro_bytes = sum(os.path.getsize(p) for p in glob.glob(os.path.join(avro_dir, "*.avro")))
    out["avroio.container.bytes_per_record"] = avro_bytes / N_FILES
    evolved = read_avro(spark, avro_dir, reader_schema=gen.EVOLVED_SCHEMA)
    out["sources.files.read_s"] = measure("sources.files.read_avro", _noop, evolved)[1]
    out["sources.files.splits"] = evolved.rdd.getNumPartitions()
    n_read = evolved.where(F.col("channel") == gen.EVOLVED_DEFAULT).count()
    if n_read != N_FILES:
        raise AssertionError(f"files probe read {n_read} of {N_FILES} rows")

    # text and dedup operators on the probe corpus
    corpus_dir = os.path.join(work, "probe_corpus")
    gen.write_corpus(gen.corpus(seed, N_CORPUS), corpus_dir, 4)
    docs = spark.read.parquet(os.path.join(corpus_dir, "documents.parquet"))
    feats = docs.select(
        "doc_id", language_id("text").alias("lang"), quality_features("text").alias("q"), token_count("text").alias("t")
    )
    out["operators.text.features_s"] = measure("operators.text.features", _noop, feats)[1]
    cands = minhash_candidate_pairs(docs, "doc_id", "text", 12, 3, 3)
    n_cands, out["operators.dedup.minhash_candidates_s"] = measure("operators.dedup.minhash_candidate_pairs", cands.count)
    out["operators.dedup.candidate_pairs"] = n_cands
    verified, _ = measure(
        "operators.dedup.ngram_jaccard_pairs",
        lambda: ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5, candidates=cands).count(),
    )
    out["operators.dedup.verified_per_candidate"] = verified / max(1, n_cands)
    label = "perfbench_probe"
    out["operators.staging.materialize_s"] = measure(
        "operators.staging.materialize", materialize, feats, label=label, default="parquet"
    )[1]
    staged = sorted(glob.glob(os.path.join(tempfile.gettempdir(), f"stage_{label}_*")), key=os.path.getmtime)
    out["operators.staging.bytes"] = _dir_bytes(staged[-1]) if staged else 0

    # q49 by count() and by a noop sink: the work count() lets Catalyst prune
    q49 = load_all()["q49_curation_pipeline"].fn
    out["queries.q49.count_s"] = measure("queries.q49.count", lambda: q49(spark, corpus_dir).count())[1]
    out["queries.q49.noop_s"] = measure("queries.q49.noop", lambda: _noop(q49(spark, corpus_dir)))[1]
    out["queries.q49.noop_over_count"] = out["queries.q49.noop_s"] / out["queries.q49.count_s"]
    return out


def probe_cells(seed: int, work: str) -> tuple:
    """(cells, parquet dir) of the envelope probe input."""
    cells, _ = gen.envelope_cells(seed, N_ENVELOPE)
    path = os.path.join(work, "probe_cells")
    gen.write_cells(cells, path, 4)
    return cells, path

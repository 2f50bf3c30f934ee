"""Similarity-search queries over the ``embeddings`` table.

q35 is the exactness baseline (brute-force cosine top-k: broadcast the
query set, per-partition scoring, window top-k); q36 is the scale path
(random-hyperplane LSH buckets prune candidates before the exact
re-rank). Both engines compute the dot product with identical
left-to-right double accumulation, and the LSH hyperplanes are derived
from md5 bits, so DuckDB can build byte-identical planes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import REGISTRY, load_table, register
from ..operators.similarity import DEFAULT_CELL_CAP, lsh_bucket_topk, topk_neighbors
from ..operators.staging import memoized

# One trained semantic-dedup cell assignment per (application, corpus):
# q94, q181 and therefore the q93 composite share the SAME (assign,
# refined) pair instead of re-running seeding + Lloyd + the full-corpus
# assignment once per member — the most expensive stage of the
# composite ran twice before (ADVICE r7 #4). Safe to share because the
# trajectory is fully deterministic (md5 seeding, decimal-exact means)
# and ``assign`` is parquet-staged, so the reuse is a cheap re-read.
def _sd_cells(spark: SparkSession, sf_dir: str) -> tuple:
    from ..operators.similarity import _semantic_cells

    return memoized(
        "sd_cells",
        spark,
        sf_dir,
        lambda: _semantic_cells(
            load_table(spark, sf_dir, "embeddings"),
            "vec_id", "embedding", 8, 2, 64, DEFAULT_CELL_CAP, 4,
        ),
    )


_COS = (
    "(list_aggregate(list_transform(list_zip(qvec, cvec),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum'))"
    " / (sqrt(list_aggregate(list_transform(qvec,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
    " * sqrt(list_aggregate(list_transform(cvec,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))"
)


@register(
    "q35_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cvec FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id, {_COS} AS cosine
      FROM c CROSS JOIN q WHERE neighbor_id != query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def q35_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors. The query side is
    broadcast, so the corpus never shuffles for scoring; the only
    shuffle is the per-query window rank."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return topk_neighbors(emb, queries, "vec_id", "embedding", k=5, dim=64).orderBy("query_id", "rank")


def _plane_duck(vec: str, plane: int, dim: int = 64) -> str:
    comp = (
        f"list_transform(generate_series(0, {dim - 1}), "
        f"d -> CASE WHEN (CAST(concat('0x', substring(md5(concat('p{plane}|', d)), 1, 15)) AS BIGINT) & 1) = 1 "
        f"THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)"
    )
    return (
        f"list_aggregate(list_transform(list_zip({vec}, {comp}), "
        f"p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')"
    )


def _bucket_duck(vec: str, n_planes: int = 4, dim: int = 64, offset: int = 0) -> str:
    """Sign-bit bucket key; with ``offset``, bit i reads plane
    ``offset + i`` (weights stay 1<<i) — mirrors
    operators/similarity.py::lsh_bucket_key."""
    bits = [
        f"(CASE WHEN ({_plane_duck(vec, offset + i, dim)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    ]
    return "(" + " + ".join(bits) + ")"


@register(
    "q36_ann_lsh_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qvec, {_bucket_duck('embedding')} AS bucket
      FROM embeddings WHERE vec_id < 10
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding AS cvec, {_bucket_duck('embedding')} AS bucket
      FROM embeddings
    ),
    scored AS (
      SELECT query_id, neighbor_id, {_COS} AS cosine
      FROM c JOIN q USING (bucket) WHERE neighbor_id != query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def q36_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via 4-plane random-hyperplane LSH (16 buckets):
    candidates restricted to the query's bucket, exact cosine re-rank
    inside. The join key is the bucket — |Q| × bucket instead of
    |Q| × corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return lsh_bucket_topk(
        emb, queries, "vec_id", "embedding", k=5, n_planes=4, dim=64
    ).orderBy("query_id", "rank")


_PAIR_COS = (
    "(list_aggregate(list_transform(list_zip(a.embedding, b.embedding),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum'))"
    " / (sqrt(list_aggregate(list_transform(a.embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
    " * sqrt(list_aggregate(list_transform(b.embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))"
)


@register(
    "q57_bucketed_near_dup",
    oracle=f"""
    WITH keyed AS (
      SELECT vec_id, embedding, {_bucket_duck('embedding')} AS bucket FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_PAIR_COS.replace('a.embedding', 'a.embedding').replace('b.embedding', 'b.embedding')}, 6) AS cosine
    FROM keyed a JOIN keyed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_PAIR_COS} >= 0.30
    ORDER BY id_a, id_b
    """,
)
def q57_bucketed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q34's documented scale path made concrete: near-dup discovery
    restricted to random-hyperplane LSH buckets (one uniform bucket-key
    shuffle; quadratic verify only inside buckets), exact cosine ≥ 0.30
    within. The oracle builds byte-identical buckets from the same
    md5-derived planes."""
    from ..operators.similarity import bucketed_embedding_near_dup

    emb = load_table(spark, sf_dir, "embeddings")
    return bucketed_embedding_near_dup(
        emb, "vec_id", "embedding", threshold=0.30, n_planes=4, dim=64
    ).orderBy("id_a", "id_b")


def _cent_cos(vec: str) -> str:
    """Cosine(vec, c.centvec) in DuckDB (same accumulation as Spark)."""
    return (
        f"(list_aggregate(list_transform(list_zip({vec}, c.centvec),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum'))"
        f" / (sqrt(list_aggregate(list_transform({vec},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
        " * sqrt(list_aggregate(list_transform(c.centvec,"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))"
    )


def _maximin_cte(n_centroids: int) -> str:
    """Unrolled farthest-point seeding chain, mirroring
    operators.similarity.maximin_seed step for step: first center =
    min (md5(id), id); each next = the point minimizing max-cosine to
    the chosen set (i.e. farthest from its nearest center), ties by
    (md5(id), id). Sequential CTEs mc0..mc{k-1} accumulate the set."""
    cos = _cent_cos("s.embedding")
    parts = [
        "seedh AS (\n      SELECT vec_id, embedding,"
        " md5(CAST(vec_id AS VARCHAR)) AS h FROM embeddings\n    )",
        "mc0 AS (\n      SELECT vec_id AS cid, embedding AS centvec"
        " FROM seedh ORDER BY h, vec_id LIMIT 1\n    )",
    ]
    for i in range(1, n_centroids):
        parts.append(
            f"""mx{i} AS (
      SELECT vec_id, embedding FROM (
        SELECT s.vec_id, s.embedding, s.h, MAX({cos}) AS mx
        FROM seedh s CROSS JOIN mc{i - 1} c
        GROUP BY s.vec_id, s.embedding, s.h
      ) ORDER BY mx ASC, h ASC, vec_id ASC LIMIT 1
    )"""
        )
        parts.append(
            f"mc{i} AS (\n      SELECT * FROM mc{i - 1} UNION ALL"
            f" SELECT vec_id AS cid, embedding AS centvec FROM mx{i}\n    )"
        )
    return ",\n    ".join(parts)


def _oversample_cte(n_centroids: int, quota: int | None = None) -> str:
    """Unrolled oversampling-seed chain, mirroring
    operators.similarity.oversample_seed step for step: first center =
    min (md5(id), id); candidates = first ``quota`` rows per distance
    band floor((1 − cos)·8) by (md5(id), id); then the farthest-point
    chain runs over the candidate set only (mc1..mc{k-1}) with the
    same (max-cosine, md5, id) tie order as :func:`_maximin_cte`.

    Chain links are MATERIALIZED: each mc{{i}} is referenced twice (by
    mx{{i+1}} and mc{{i+1}}), so DuckDB 1.0's default inlining doubles
    the plan tree per link — 2^k copies of the seed scan by mc{{k}}
    (measured: q45's 500-row oracle took 9.4 s / ~1.5 GiB this way,
    and three such members OOM'd a 4 GiB composite — the round-9 q93
    gate failure). Materialized, each link is a ≤17·k-row table and
    the whole chain runs in well under a second."""
    q = n_centroids if quota is None else quota
    cos = _cent_cos("s.embedding")
    parts = [
        "seedh AS MATERIALIZED (\n      SELECT vec_id, embedding,"
        " md5(CAST(vec_id AS VARCHAR)) AS h FROM embeddings\n    )",
        "mc0 AS MATERIALIZED (\n      SELECT vec_id AS cid, embedding AS centvec"
        " FROM seedh ORDER BY h, vec_id LIMIT 1\n    )",
        f"""cand AS MATERIALIZED (
      SELECT vec_id, embedding, h FROM (
        SELECT s.vec_id, s.embedding, s.h,
               ROW_NUMBER() OVER (
                 PARTITION BY CAST(FLOOR((1.0 - {cos}) * 8.0) AS BIGINT)
                 ORDER BY s.h, s.vec_id) AS rn
        FROM seedh s CROSS JOIN mc0 c
      ) WHERE rn <= {q}
    )""",
    ]
    for i in range(1, n_centroids):
        parts.append(
            f"""mx{i} AS (
      SELECT vec_id, embedding FROM (
        SELECT s.vec_id, s.embedding, s.h, MAX({cos}) AS mx
        FROM cand s CROSS JOIN mc{i - 1} c
        GROUP BY s.vec_id, s.embedding, s.h
      ) ORDER BY mx ASC, h ASC, vec_id ASC LIMIT 1
    )"""
        )
        parts.append(
            f"mc{i} AS MATERIALIZED (\n      SELECT * FROM mc{i - 1} UNION ALL"
            f" SELECT vec_id AS cid, embedding AS centvec FROM mx{i}\n    )"
        )
    return ",\n    ".join(parts)


def _ivf_cents_cte(lloyd_iters: int, n_centroids: int = 8) -> tuple[str, str]:
    """Unrolled Lloyd chain: cents0 (oversampling farthest-point seed)
    → assignI → centsI+1 (decimal-exact element-wise means, mirroring
    operators.similarity.lloyd_step bit-for-bit). Returns (CTE text,
    final cents name)."""
    ctes = [
        _oversample_cte(n_centroids),
        # Spark ships the seed as array<double> (exact float→double);
        # mirror the representation so downstream cosines are identical
        f"cents0 AS MATERIALIZED (\n      SELECT cid,"
        f" list_transform(centvec, x -> CAST(x AS DOUBLE)) AS centvec"
        f" FROM mc{n_centroids - 1}\n    )",
    ]
    for i in range(lloyd_iters):
        ctes.append(
            f"""assign{i} AS MATERIALIZED (
      SELECT neighbor_id, cvec, cid FROM (
        SELECT e.vec_id AS neighbor_id, e.embedding AS cvec, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {_cent_cos('e.embedding')} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cents{i} c
      ) WHERE rn = 1
    )"""
        )
        ctes.append(
            f"""cents{i + 1} AS MATERIALIZED (
      SELECT cid, list(CAST(s AS DOUBLE) / n ORDER BY d) AS centvec FROM (
        SELECT cid, d, SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(27,10))) AS s, COUNT(*) AS n
        FROM (SELECT cid, unnest(cvec) AS v, generate_subscripts(cvec, 1) AS d FROM assign{i})
        GROUP BY cid, d
      ) GROUP BY cid
    )"""
        )
    return ",\n    ".join(ctes), f"cents{lloyd_iters}"


_CENTS_CTE, _FINAL_CENTS = _ivf_cents_cte(lloyd_iters=2, n_centroids=8)


@register(
    "q45_ivf_topk",
    oracle=f"""
    WITH {_CENTS_CTE},
    assign AS (
      SELECT neighbor_id, cvec, cid FROM (
        SELECT e.vec_id AS neighbor_id, e.embedding AS cvec, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {_cent_cos('e.embedding')} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN {_FINAL_CENTS} c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qvec, cid FROM (
        SELECT e.vec_id AS query_id, e.embedding AS qvec, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {_cent_cos('e.embedding')} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN {_FINAL_CENTS} c
        WHERE e.vec_id < 10
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT p.query_id, a.neighbor_id, {_COS.replace('qvec', 'p.qvec').replace('cvec', 'a.cvec')} AS cosine
      FROM assign a JOIN probes p USING (cid)
      WHERE a.neighbor_id != p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def q45_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic k-means‖-style oversampling seed
    (:func:`..operators.similarity.oversample_seed` — two Spark
    actions at any k, banded distance strata + driver-side
    farthest-point over ≤17·k candidates; VERDICT r3 #5 replaced the
    k−1 sequential corpus scans of pure maximin) — md5 tiebreaks keep
    it oracle-reproducible, and like maximin it spreads across the
    data's actual clusters — refined by two bit-reproducible Lloyd
    iterations (decimal-exact cluster means), nearest-centroid
    inverted lists, 2-probe exact re-rank. Complements q36's LSH —
    the two standard ANN families, both oracle-checked against the
    same unrolled seeding + k-means trajectory in DuckDB."""
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, n_centroids=8, n_probe=2,
        lloyd_iters=2, dim=64,
    ).orderBy("query_id", "rank")


_SD_PAIR_COS = (
    "(list_aggregate(list_transform(list_zip(a.cvec, b.cvec),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum'))"
    " / (sqrt(list_aggregate(list_transform(a.cvec,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
    " * sqrt(list_aggregate(list_transform(b.cvec,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))"
)


def _split_bits_duck(vec: str, split_planes: int = 4, dim: int = 64) -> str:
    """The hot-cell split sub-key: :func:`_bucket_duck` at
    SPLIT_PLANE_OFFSET (operators/similarity.py::_cell_split_bits) —
    one copy of the sign-bit construction q36/q57 pin."""
    from ..operators.similarity import SPLIT_PLANE_OFFSET

    return _bucket_duck(vec, split_planes, dim, offset=SPLIT_PLANE_OFFSET)


def _sd_guard_ctes(cell_cap: int, split_planes: int = 4) -> str:
    """Hot-cell guard CTEs (VERDICT r6 #1), mirroring
    operators/similarity.py::_semantic_cells: cells over ``cell_cap``
    get their pair-join key refined with LSH sign bits; refined cells
    still over the cap are excluded from pair generation."""
    mult = 1 << split_planes
    return f"""sd_sizes AS (SELECT cid, COUNT(*) AS cn FROM sd_assign GROUP BY cid),
    sd_ref AS MATERIALIZED (
      SELECT s.neighbor_id, s.cvec,
             CASE WHEN z.cn > {cell_cap}
                  THEN s.cid * {mult} + {_split_bits_duck('s.cvec', split_planes)}
                  ELSE s.cid * {mult} END AS rkey
      FROM sd_assign s JOIN sd_sizes z USING (cid)
    ),
    sd_rn AS (SELECT rkey, COUNT(*) AS rn FROM sd_ref GROUP BY rkey),
    sd_live AS MATERIALIZED (
      SELECT r.neighbor_id, r.cvec, r.rkey
      FROM sd_ref r JOIN sd_rn USING (rkey) WHERE rn <= {cell_cap}
    )"""


@register(
    "q94_semantic_dedup",
    oracle=f"""
    WITH RECURSIVE {_CENTS_CTE},
    sd_assign AS MATERIALIZED (
      SELECT neighbor_id, cvec, cid FROM (
        SELECT e.vec_id AS neighbor_id, e.embedding AS cvec, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {_cent_cos('e.embedding')} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN {_FINAL_CENTS} c
      ) WHERE rn = 1
    ),
    {_sd_guard_ctes(DEFAULT_CELL_CAP)},
    sd_pairs AS MATERIALIZED (
      SELECT a.neighbor_id AS id_a, b.neighbor_id AS id_b
      FROM sd_live a JOIN sd_live b
        ON a.rkey = b.rkey AND a.neighbor_id < b.neighbor_id
      WHERE {_SD_PAIR_COS} >= 0.45
    ),
    sym AS (
      SELECT id_a AS u, id_b AS v FROM sd_pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM sd_pairs
    ),
    reach AS (
      SELECT u AS src, u AS dst FROM sym
      UNION
      SELECT r.src, s.v AS dst FROM reach r JOIN sym s ON r.dst = s.u
    ),
    comp AS (SELECT src AS vec_id, MIN(dst) AS component_id FROM reach GROUP BY src),
    labeled AS (
      SELECT s.neighbor_id AS vec_id, s.cid,
             COALESCE(c.component_id, s.neighbor_id) AS component_id
      FROM sd_assign s LEFT JOIN comp c ON c.vec_id = s.neighbor_id
    ),
    sizes AS (SELECT component_id, COUNT(*) AS n_dups FROM labeled GROUP BY component_id)
    SELECT l.vec_id, l.cid, l.component_id, s.n_dups,
           l.vec_id = l.component_id AS is_keeper
    FROM labeled l JOIN sizes s USING (component_id)
    ORDER BY vec_id
    """,
)
def q94_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embedding corpus: k-means
    cells (the q45 maximin + Lloyd trajectory, bit-reproducible) bound
    the quadratic near-dup scan — HARD-bounded by the hot-cell guard
    (cells over DEFAULT_CELL_CAP are LSH-split; still-oversized
    refined cells are dropped from pair generation, the band-cap
    policy) — within-cell cosine ≥ 0.45 pairs fold into duplicate
    components, one keeper per component (min id). The oracle replays
    the full chain — seeding, two Lloyd iterations, assignment, the
    guard's split/exclude CTEs, in-cell pairs, recursive-CTE
    transitive closure — so every stage is value-pinned (the guard
    does not trigger at gate scale but its CTEs run in the oracle at
    every scale). See operators/similarity.py::semantic_dedup for the
    100 TB shape."""
    from ..operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.45, n_centroids=8,
        lloyd_iters=2, dim=64, cells=_sd_cells(spark, sf_dir),
    ).orderBy("vec_id")


# --------------------------------------------------------------- q181
# The hot-cell guard's accounting view (round 7, with VERDICT r6 #1):
# one row per refined cell with its raw size, refined size, and the
# split/participates flags — the dashboard an operator of semantic
# dedup at scale watches for persistent dropped cells (raise
# n_centroids or the cap, or run exact dedup first).


@register(
    "q181_semantic_cell_stats",
    oracle=f"""
    WITH RECURSIVE {_CENTS_CTE},
    sd_assign AS MATERIALIZED (
      SELECT neighbor_id, cvec, cid FROM (
        SELECT e.vec_id AS neighbor_id, e.embedding AS cvec, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {_cent_cos('e.embedding')} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN {_FINAL_CENTS} c
      ) WHERE rn = 1
    ),
    sd_sizes AS (SELECT cid, COUNT(*) AS cn FROM sd_assign GROUP BY cid),
    sd_ref AS (
      SELECT s.cid,
             CAST(CASE WHEN z.cn > {DEFAULT_CELL_CAP}
                  THEN s.cid * 16 + {_split_bits_duck('s.cvec', 4)}
                  ELSE s.cid * 16 END AS BIGINT) AS rkey,
             z.cn
      FROM sd_assign s JOIN sd_sizes z USING (cid)
    ),
    agg AS (
      SELECT cid, rkey,
             CAST(MAX(cn) AS BIGINT) AS n_cell,
             CAST(COUNT(*) AS BIGINT) AS n_refined
      FROM sd_ref GROUP BY cid, rkey
    )
    SELECT cid, rkey, n_cell, n_refined,
           n_cell > {DEFAULT_CELL_CAP} AS was_split,
           n_refined <= {DEFAULT_CELL_CAP} AS participates
    FROM agg ORDER BY cid, rkey
    """,
)
def q181_semantic_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-cell guard accounting for the q94 semantic-dedup corpus:
    per refined cell, the parent cell size, refined size, whether the
    cell was LSH-split (over DEFAULT_CELL_CAP) and whether it
    participates in pair generation (refined size within the cap). The
    oracle replays the full trajectory — seeding, Lloyd, assignment,
    the guard's split-bit arithmetic — so the guard's bookkeeping is
    value-pinned at every scale, not just where it triggers. See
    operators/similarity.py::semantic_dedup_cell_stats."""
    from ..operators.similarity import semantic_dedup_cell_stats

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_cell_stats(
        emb, "vec_id", "embedding", n_centroids=8, lloyd_iters=2, dim=64,
        cells=_sd_cells(spark, sf_dir),
    ).orderBy("cid", "rkey")


@register(
    "q64_embedding_quantize",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, e,
             list_aggregate(list_transform(e, x -> abs(x)), 'max') / 127.0 AS scale
      FROM e
    ),
    q AS (
      SELECT vec_id, e, scale,
             CASE WHEN scale = 0.0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(e, x -> greatest(CAST(-127 AS BIGINT),
                       least(CAST(127 AS BIGINT), CAST(floor(x / scale + 0.5) AS BIGINT))))
             END AS q
      FROM s
    ),
    err AS (
      SELECT vec_id, e, scale, q,
             list_transform(list_zip(q, e), p -> p[1] * scale - p[2]) AS err
      FROM q
    )
    SELECT vec_id,
           len(e) AS n_dims,
           scale,
           CAST(list_aggregate(q, 'sum') AS BIGINT) AS qsum,
           CAST(list_aggregate(list_transform(q, x -> x * x), 'sum') AS BIGINT) AS qnorm,
           list_aggregate(list_transform(err, x -> abs(x)), 'max') AS max_abs_err,
           list_aggregate(list_transform(err, x -> x * x), 'sum') / len(err) AS mse
    FROM err
    ORDER BY vec_id
    """,
)
def q64_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding corpus —
    the float32→int8+scale compression step a 100 TB embedding store
    applies before ANN indexing. A pure narrow map of JVM higher-order
    array expressions (no shuffle but the final ORDER BY); the oracle
    recomputes the identical quantizer (floor(x/scale + 0.5), clamped)
    and checks per-vector checksums (qsum/qnorm) plus reconstruction
    error, so a single bit of quantization drift fails the hash."""
    from ..operators.similarity import quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_embeddings(emb, "vec_id", "embedding").orderBy("vec_id")


_PCA_DIM = 64
_PCA_ITERS = 8


def _pca_iter_cte(k: int) -> str:
    # MATERIALIZED: each w{k}/v{k} is referenced more than once by the
    # next round; without it DuckDB 1.0 inlines the whole upstream
    # pipeline per reference and the 8-round plan tree grows
    # exponentially (measured: OOM at 4 GiB on 500 rows — the round-9
    # driver-gate q93 failure; materialized it runs in ~1 s).
    return f"""w{k} AS MATERIALIZED (
      SELECT c.i, CAST(SUM(CAST(c.c * v.v AS DECIMAL(30,15))) AS DOUBLE) AS w
      FROM cov c JOIN v{k - 1} v ON c.j = v.i GROUP BY c.i
    ),
    nr{k} AS (SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(30,15))) AS DOUBLE)) AS nrm FROM w{k}),
    v{k} AS MATERIALIZED (SELECT i, w / nrm AS v FROM w{k}, nr{k})"""


@register(
    "q115_pca_projection",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding AS x FROM embeddings),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
    xi AS MATERIALIZED (
      SELECT vec_id, i, CAST(x[i + 1] AS DOUBLE) AS xi
      FROM e, range({_PCA_DIM}) t(i)
    ),
    -- quantized elements: one IEEE multiply/add/floor, bit-identical
    -- to the Spark side's numpy pass
    yi AS MATERIALIZED (
      SELECT vec_id, i, CAST(FLOOR(xi * 1e7 + 0.5) AS BIGINT) AS y FROM xi
    ),
    -- self-join on the quantized table instead of re-expanding the
    -- raw arrays: SUM(y_i * y_j) is the identical exact-integer sum
    -- (y_j = FLOOR(x[j+1]*1e7 + 0.5) by construction) and nothing
    -- downstream of yi ever touches the embedding array again
    moments AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, SUM(a.y * b.y) AS sxx
      FROM yi a JOIN yi b USING (vec_id) GROUP BY a.i, b.i
    ),
    mu AS MATERIALIZED (
      SELECT i, (CAST(SUM(y) AS DOUBLE) / 1e7) / CAST(n AS DOUBLE) AS mu
      FROM yi, n GROUP BY i, n
    ),
    cov AS MATERIALIZED (
      SELECT m.i, m.j,
             (CAST(sxx AS DOUBLE) / 1e14) / CAST(n AS DOUBLE) - mi.mu * mj.mu AS c
      FROM moments m, n
      JOIN mu mi ON m.i = mi.i JOIN mu mj ON m.j = mj.i
    ),
    v0 AS (SELECT i, CAST(0.125 AS DOUBLE) AS v FROM range({_PCA_DIM}) t(i)),
    {", ".join(_pca_iter_cte(k) for k in range(1, _PCA_ITERS + 1))}
    SELECT vec_id,
           ROUND(CAST(SUM(CAST((xi - mu) * v AS DECIMAL(30,15))) AS DOUBLE), 6) AS pc1
    FROM xi JOIN mu USING (i) JOIN v{_PCA_ITERS} USING (i)
    GROUP BY vec_id ORDER BY vec_id
    """,
)
def q115_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-principal-component projection of the embedding store
    (:func:`..operators.decomp.pca_power_projection`): the d×d
    second-moment matrix accumulates in ONE Arrow-batched numpy pass
    (per-batch int64 ``YᵀY`` outer products of 10⁷-quantized
    elements, merged by a single exact DECIMAL aggregation — VERDICT
    r3 #3), the mean rides the same pass, and eight power-iteration
    rounds then run on broadcast-size (d², 4096-row) state — corpus
    size never touches the iteration. Projection is a broadcast join
    back over the rows.

    Quantization `floor(x·10⁷ + 0.5)` is one IEEE multiply/add/floor —
    bit-identical in numpy, Spark and DuckDB — so all data-sized sums
    are exact integer arithmetic; downstream sums stay DECIMAL(30,15)
    casts and fixed IEEE double trees (sqrt is correctly rounded per
    IEEE-754, so it is engine-stable — unlike ln/exp, which the
    registry bans); the oracle replays the quantization and all eight
    rounds as unrolled CTEs, the q45/q102 pattern."""
    emb = load_table(spark, sf_dir, "embeddings")
    from ..operators.decomp import pca_power_projection

    return pca_power_projection(
        emb, id_col="vec_id", vec_col="embedding", dim=_PCA_DIM, iterations=_PCA_ITERS
    ).orderBy("vec_id")


def _bucket_duck_band(vec: str, band: int, n_planes: int = 6, dim: int = 64) -> str:
    bits = [
        f"(CASE WHEN ({_plane_duck(vec, band * n_planes + i, dim)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    ]
    return "(" + " + ".join(bits) + ")"


@register(
    "q116_knn_graph",
    oracle=f"""
    WITH e0 AS (
      SELECT vec_id, embedding, {_bucket_duck_band('embedding', 0)} AS bucket FROM embeddings
    ),
    e1 AS (
      SELECT vec_id, embedding, {_bucket_duck_band('embedding', 1)} AS bucket FROM embeddings
    ),
    cand AS (
      SELECT DISTINCT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
        FROM e0 a JOIN e0 b USING (bucket) WHERE a.vec_id <> b.vec_id
        UNION ALL
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
        FROM e1 a JOIN e1 b USING (bucket) WHERE a.vec_id <> b.vec_id
      )
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             (list_aggregate(list_transform(list_zip(va.embedding, vb.embedding),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum'))
             / (sqrt(list_aggregate(list_transform(va.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                * sqrt(list_aggregate(list_transform(vb.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cosine
      FROM cand c
      JOIN embeddings va ON c.query_id = va.vec_id
      JOIN embeddings vb ON c.neighbor_id = vb.vec_id
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, ROUND(cosine, 6) AS cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 3 ORDER BY query_id, rank
    """,
)
def q116_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-points kNN graph (:func:`..operators.similarity.knn_graph`):
    every vector's top-3 cosine neighbors among its LSH candidates,
    with two OR-amplification bands of 6 md5-derived hyperplanes each.
    The graph primitive under graph dedup / clustering / diversity
    sampling — the all-points sibling of q36's query-serving path.

    Scale shape: per band one self-join on the uniform bucket key
    (quadratic only inside buckets), distinct on the id pair before
    vectors re-join, one per-src window. Nothing corpus-quadratic."""
    emb = load_table(spark, sf_dir, "embeddings")
    from ..operators.similarity import knn_graph

    return knn_graph(
        emb, id_col="vec_id", vec_col="embedding", k=3, n_planes=6, n_bands=2, dim=64
    ).orderBy("query_id", "rank")


_RRF_K = 60


@register(
    "q124_rrf_fusion",
    oracle=f"""
    WITH u AS (
      SELECT query_id, neighbor_id, rank FROM ({REGISTRY["q35_cosine_topk"].oracle})
      UNION ALL
      SELECT query_id, neighbor_id, rank FROM ({REGISTRY["q36_ann_lsh_topk"].oracle})
      UNION ALL
      SELECT query_id, neighbor_id, rank FROM ({REGISTRY["q45_ivf_topk"].oracle})
    ),
    f AS (
      SELECT query_id, neighbor_id, CAST(count(*) AS BIGINT) AS n_lists,
             CAST(SUM(1000000 // ({_RRF_K} + rank)) AS BIGINT) AS rrf_score
      FROM u GROUP BY 1, 2
    )
    SELECT query_id, CAST(rn AS BIGINT) AS fused_rank, neighbor_id, n_lists, rrf_score
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, neighbor_id) AS rn
      FROM f
    ) WHERE rn <= 5 ORDER BY query_id, fused_rank
    """,
)
def q124_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion — the standard hybrid-search combiner —
    over the three ANN rankings for the same query set: brute-force
    exact (q35), hyperplane LSH (q36) and IVF (q45). Fused score
    Σ 10⁶ div (60 + rank) in exact integers (the classic RRF k=60),
    counting how many lists surfaced each neighbor; top-5 per query by
    (score DESC, neighbor_id).

    Scale shape: the member rankings are already top-k slivers, so
    fusion is one uniform-key agg + one per-query window over ≤15
    rows — the retrieval lists dominate, fusion is free. At 100 TB
    the same plan fuses BM25 postings hits with ANN hits (rank lists
    are rank lists)."""
    u = None
    for fn in (q35_cosine_topk, q36_ann_lsh_topk, q45_ivf_topk):
        part = fn(spark, sf_dir).select("query_id", "neighbor_id", "rank")
        u = part if u is None else u.unionByName(part)
    f = u.groupBy("query_id", "neighbor_id").agg(
        F.count("*").cast("long").alias("n_lists"),
        F.sum(F.expr(f"1000000 div ({_RRF_K} + rank)")).cast("long").alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc("neighbor_id"))
    return (
        f.withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .where(F.col("fused_rank") <= 5)
        .select("query_id", "fused_rank", "neighbor_id", "n_lists", "rrf_score")
        .orderBy("query_id", "fused_rank")
    )


# --------------------------------------------------------------- q147
# Product-quantization ANN with asymmetric distance computation — the
# third classic ANN family next to LSH (q36) and IVF (q45): corpus
# vectors are stored as m=4 codeword ids against per-subspace sampled
# codebooks (ks=16), and queries score AGAINST THE CODES ONLY via a
# per-query (m × ks) integer lookup table. Per-subspace distances are
# floor(x*1e6 + 0.5)-quantized BEFORE summation (the repo's
# oracle-stable vectorization trick), so ranking is pure integer
# arithmetic with no float-order risk in either engine.

_PQ_SUB = 16   # dims per subspace (64 / m)
_PQ_M = 4
_PQ_KS = 16


def _pq_l2q_duck(a: str, b: str) -> str:
    return (
        f"CAST(floor((list_aggregate(list_transform(list_zip({a}, {b}), "
        f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), "
        f"'sum')) * 1e6 + 0.5) AS BIGINT)"
    )


@register(
    "q147_pq_adc_topk",
    oracle=f"""
    WITH train AS (
      SELECT vec_id, embedding,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cw
      FROM embeddings
    ), cb AS (
      SELECT j, CAST(cw AS INTEGER) AS cw,
             list_slice(embedding, j*{_PQ_SUB}+1, j*{_PQ_SUB}+{_PQ_SUB}) AS cvec
      FROM train, unnest([0,1,2,3]) AS t(j)
      WHERE cw <= {_PQ_KS}
    ), sv AS (
      SELECT vec_id, j, list_slice(embedding, j*{_PQ_SUB}+1, j*{_PQ_SUB}+{_PQ_SUB}) AS svec
      FROM embeddings, unnest([0,1,2,3]) AS t(j)
    ), codes AS (
      SELECT vec_id, j, cw FROM (
        SELECT sv.vec_id, sv.j, cb.cw,
               ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.j
                 ORDER BY {_pq_l2q_duck('sv.svec', 'cb.cvec')}, cb.cw) AS rn
        FROM sv JOIN cb USING (j)
      ) WHERE rn = 1
    ), lut AS (
      SELECT sv.vec_id AS query_id, sv.j, cb.cw,
             {_pq_l2q_duck('sv.svec', 'cb.cvec')} AS dq
      FROM sv JOIN cb USING (j) WHERE sv.vec_id < 10
    ), adist AS (
      SELECT lut.query_id, codes.vec_id AS neighbor_id,
             CAST(SUM(dq) AS BIGINT) AS adist_q
      FROM codes JOIN lut ON codes.j = lut.j AND codes.cw = lut.cw
      WHERE codes.vec_id != lut.query_id
      GROUP BY 1, 2
    ), ranked AS (
      SELECT query_id, neighbor_id, adist_q,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY adist_q, neighbor_id) AS INTEGER) AS rank
      FROM adist
    )
    SELECT query_id, rank, neighbor_id, adist_q
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def q147_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-5 for 10 query vectors: 4 subspaces × 16
    sampled codewords; corpus stored as 4 small ints per vector, queries
    scored by integer lookup-table sums — the memory-compressed ANN
    index shape (FAISS PQ). Encoding is a broadcast join + min(struct)
    aggregation (map-side combine, no window sort); the corpus vectors
    are never shuffled and never touched at query time. See
    operators/similarity.py:pq_adc_topk."""
    from ..operators.similarity import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return pq_adc_topk(
        emb, queries, "vec_id", "embedding", k=5, m=_PQ_M, ks=_PQ_KS, dim=64
    ).orderBy("query_id", "rank")


# --------------------------------------------------------------- q148
# Hard-negative mining for contrastive training: per anchor, the top-3
# most-similar vectors with a DIFFERENT label — the near-misses that
# carry gradient signal in triplet/InfoNCE losses (random negatives
# are trivially separable). Same broadcast + window shape as q35 with
# the label-inequality filter applied BEFORE scoring.


@register(
    "q148_hard_negatives",
    oracle=f"""
    WITH a AS (
      SELECT vec_id AS anchor_id, embedding AS qvec, label AS alabel
      FROM embeddings WHERE vec_id < 12
    ), c AS (
      SELECT vec_id AS negative_id, embedding AS cvec, label AS nlabel
      FROM embeddings
    ), scored AS (
      SELECT anchor_id, negative_id, {_COS} AS cosine
      FROM c CROSS JOIN a WHERE nlabel != alabel
    ), ranked AS (
      SELECT anchor_id, negative_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
               ORDER BY cosine DESC, negative_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT anchor_id, rank, negative_id, ROUND(cosine, 6) AS cosine
    FROM ranked WHERE rank <= 3 ORDER BY anchor_id, rank
    """,
)
def q148_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 hard negatives (highest-cosine different-label vectors)
    for 12 anchor vectors. Anchors broadcast; the label filter prunes
    before scoring; per-anchor ranking is one window on the uniform
    anchor key. See operators/similarity.py:hard_negatives."""
    from ..operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(
        emb, "vec_id", "embedding", "label", k=3,
        anchors_filter=F.col("vec_id") < 12, dim=64,
    ).orderBy("anchor_id", "rank")


# --------------------------------------------------------------- q152
# IVF index MAINTENANCE (the FAISS `add` pattern): centroids trained
# once on the base corpus and FROZEN; a new vector batch (here a
# deterministic derivation — reversed embeddings under shifted ids, so
# both engines synthesize the identical batch) is assigned to frozen
# centroids without retraining and becomes immediately retrievable.
# Completes the index-maintenance triad: exact-hash probing (q70),
# streaming LSH ledger (q151), and now ANN inverted lists.

_ADD_SHIFT = 100000


@register(
    "q152_ivf_incremental_add",
    oracle=f"""
    WITH {_CENTS_CTE},
    u AS (
      SELECT vec_id AS neighbor_id, embedding AS cvec, 'base' AS origin
      FROM embeddings
      UNION ALL
      SELECT vec_id + {_ADD_SHIFT}, list_reverse(embedding), 'new'
      FROM embeddings
    ),
    uassign AS (
      SELECT neighbor_id, cvec, origin, cid FROM (
        SELECT u.neighbor_id, u.cvec, u.origin, c.cid,
               ROW_NUMBER() OVER (PARTITION BY u.neighbor_id
                 ORDER BY {_cent_cos('u.cvec')} DESC, c.cid) AS rn
        FROM u CROSS JOIN {_FINAL_CENTS} c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qvec, cid FROM (
        SELECT e.vec_id AS query_id, e.embedding AS qvec, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cent_cos('e.embedding')} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN {_FINAL_CENTS} c
        WHERE e.vec_id < 10
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT p.query_id, a.neighbor_id, a.origin,
             {_COS.replace('qvec', 'p.qvec').replace('cvec', 'a.cvec')} AS cosine
      FROM uassign a JOIN probes p USING (cid)
      WHERE a.neighbor_id != p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, origin, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, origin, ROUND(cosine, 6) AS cosine
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def q152_ivf_incremental_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorb a new vector batch into the IVF index without retraining:
    frozen base-trained centroids, nearest-cell assignment for base ∪
    new, 2-probe exact re-rank over the merged lists — per-query top-5
    tagged by the neighbor's origin ('base'/'new'). The new batch is a
    deterministic derivation (reversed embeddings, ids + 100000) so
    the oracle synthesizes the identical batch. See
    operators/similarity.py:ivf_add_topk."""
    from ..operators.similarity import ivf_add_topk

    emb = load_table(spark, sf_dir, "embeddings")
    new = emb.select(
        (F.col("vec_id") + _ADD_SHIFT).alias("vec_id"),
        F.reverse("embedding").alias("embedding"),
    )
    queries = emb.where(F.col("vec_id") < 10)
    return ivf_add_topk(
        emb, new, queries, "vec_id", "embedding",
        k=5, n_centroids=8, n_probe=2, lloyd_iters=2, dim=64,
    ).orderBy("query_id", "rank")


# --------------------------------------------------------------- q154
# Johnson–Lindenstrauss projection audit: project 64-dim embeddings to
# 8 coordinates with a deterministic ±1 sign matrix and measure, for
# every pair in a fixed witness set, how well squared distance
# survives (distortion = (‖Pa−Pb‖²/k) / ‖a−b‖², → 1 with k). The
# dimensionality-reduction primitive under cheap ANN pre-filters and
# embedding-store compression.

_JL_K = 8


def _jl_l2p_chain(pa: str, pb: str) -> str:
    """The projected squared-L2 as an explicit left-associated chain —
    the SAME text is used in the Spark expression and the DuckDB
    oracle, so the accumulation order is identical by construction."""
    expr = "CAST(0 AS DOUBLE)"
    for j in range(_JL_K):
        expr = f"({expr} + ({pa}{j} - {pb}{j}) * ({pa}{j} - {pb}{j}))"
    return expr


_JL_L2O = (
    "list_aggregate(list_transform(list_zip(va, vb),"
    " q -> (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE))"
    " * (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE))), 'sum')"
)


@register(
    "q154_jl_projection",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 40
    ),
    proj AS (
      SELECT vec_id,
             {", ".join(f"{_plane_duck('embedding', 100 + j)} AS p{j}" for j in range(_JL_K))}
      FROM base
    ),
    a AS (
      SELECT b.vec_id AS id_a, b.embedding AS va,
             {", ".join(f"p.p{j} AS a{j}" for j in range(_JL_K))}
      FROM base b JOIN proj p USING (vec_id)
    ),
    bb AS (
      SELECT b.vec_id AS id_b, b.embedding AS vb,
             {", ".join(f"p.p{j} AS b{j}" for j in range(_JL_K))}
      FROM base b JOIN proj p USING (vec_id)
    ),
    m AS (
      SELECT id_a, id_b, {_JL_L2O} AS l2o, {_jl_l2p_chain('a', 'b')} AS l2p
      FROM a JOIN bb ON id_a < id_b
    )
    SELECT id_a, id_b,
           CAST(floor(l2o * 1e6 + 0.5) AS BIGINT) AS l2_orig_q,
           ROUND((l2p / {_JL_K}.0) / l2o, 6) AS distortion
    FROM m WHERE l2o > 0 ORDER BY id_a, id_b
    """,
)
def q154_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """±1 Johnson–Lindenstrauss projection to 8 coords (md5-derived
    sign matrix at plane ids 100+, independent of the LSH buckets) and
    the pairwise distance-preservation audit over the 40-vector
    witness set: per pair, the quantized original squared-L2 and the
    distortion ratio. Projection is a map-only scan; the audit join is
    bounded by the witness set. See operators/similarity.py:jl_project."""
    from ..operators.similarity import jl_project

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") < 40).select("vec_id", "embedding")
    proj = jl_project(base, "vec_id", "embedding", k=_JL_K, dim=64, plane_offset=100)
    withp = base.join(proj, "vec_id")
    a = withp.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        *[F.col(f"p{j}").alias(f"a{j}") for j in range(_JL_K)],
    )
    b = withp.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        *[F.col(f"p{j}").alias(f"b{j}") for j in range(_JL_K)],
    )
    l2o = (
        "aggregate(zip_with(va, vb,"
        " (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    m = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.expr(l2o).alias("l2o"),
            F.expr(_jl_l2p_chain("a", "b")).alias("l2p"),
        )
        .where(F.col("l2o") > 0)
    )
    return m.select(
        "id_a",
        "id_b",
        F.expr("CAST(floor(l2o * 1e6 + 0.5) AS BIGINT)").alias("l2_orig_q"),
        F.expr(f"ROUND((l2p / {_JL_K}.0) / l2o, 6)").alias("distortion"),
    ).orderBy("id_a", "id_b")


# --------------------------------------------------------------- q155
# Cluster cards: the per-cell summary a curation team reads after
# k-means clustering an embedding store — size, dominant label and its
# purity, id range. Runs on the SAME deterministic centroid trajectory
# as q45/q152, so the oracle replays training + assignment exactly.


@register(
    "q155_cluster_cards",
    oracle=f"""
    WITH {_CENTS_CTE},
    assign AS (
      SELECT neighbor_id, label, cid FROM (
        SELECT e.vec_id AS neighbor_id, e.label, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cent_cos('e.embedding')} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN {_FINAL_CENTS} c
      ) WHERE rn = 1
    ),
    sizes AS (
      SELECT cid, COUNT(*) AS n_vectors,
             MIN(neighbor_id) AS min_vec_id, MAX(neighbor_id) AS max_vec_id
      FROM assign GROUP BY cid
    ),
    modes AS (
      SELECT cid, label AS top_label, n_label FROM (
        SELECT cid, label, COUNT(*) AS n_label,
               ROW_NUMBER() OVER (PARTITION BY cid
                 ORDER BY COUNT(*) DESC, label) AS rn
        FROM assign GROUP BY cid, label
      ) WHERE rn = 1
    )
    SELECT s.cid, s.n_vectors, m.top_label,
           m.n_label AS top_label_n,
           m.n_label * 1000000 // s.n_vectors AS purity_ppm,
           s.min_vec_id, s.max_vec_id
    FROM sizes s JOIN modes m USING (cid) ORDER BY s.cid
    """,
)
def q155_cluster_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster summary cards over the q45 k-means cells: vector
    count, dominant label with exact ppm purity (integer division —
    no float ordering), and the id range. Assignment is the map-only
    kernel against the broadcast-trained centroids; both aggregations
    group on the 8-value cid key with map-side combine. See
    operators/similarity.py:ivf_train_centroids."""
    from ..operators.similarity import _assign_nearest, _centers_list, ivf_train_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    centers = _centers_list(
        ivf_train_centroids(emb, "vec_id", "embedding", 8, 2, 64)
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        "label",
    )
    assign = _assign_nearest(c, centers, carry=("label",))
    sizes = assign.groupBy("cid").agg(
        F.count("*").alias("n_vectors"),
        F.min("neighbor_id").alias("min_vec_id"),
        F.max("neighbor_id").alias("max_vec_id"),
    )
    w = Window.partitionBy("cid").orderBy(F.desc("n_label"), F.asc("label"))
    modes = (
        assign.groupBy("cid", "label")
        .agg(F.count("*").alias("n_label"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cid", F.col("label").alias("top_label"), F.col("n_label"))
    )
    return (
        sizes.join(modes, "cid")
        .select(
            "cid",
            "n_vectors",
            "top_label",
            F.col("n_label").alias("top_label_n"),
            F.expr("n_label * 1000000 div n_vectors").alias("purity_ppm"),
            "min_vec_id",
            "max_vec_id",
        )
        .orderBy("cid")
    )


# --------------------------------------------------------------- q159
# ANN quality measurement: recall@5 of the LSH index (q36) and the IVF
# index (q45) against the brute-force ground truth (q35), per query
# and corpus-wide. The evaluation loop every production ANN deployment
# runs before trading exactness for speed — reuses the three
# registered pipelines verbatim, so the measured systems ARE the
# shipped ones.


def _q159_oracle() -> str:
    """q159's oracle wraps the three member pipelines' own oracles as
    subqueries (they are registered earlier in this module), so the
    measured systems and the measured ground truth are single-sourced."""
    def sub(name):
        return "(" + REGISTRY[name].oracle + ")"

    return f"""
    WITH exact AS (SELECT query_id, neighbor_id FROM {sub('q35_cosine_topk')}),
    lsh AS (SELECT query_id, neighbor_id, 1 AS lsh_hit FROM {sub('q36_ann_lsh_topk')}),
    ivf AS (SELECT query_id, neighbor_id, 1 AS ivf_hit FROM {sub('q45_ivf_topk')})
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(COALESCE(l.lsh_hit, 0)) AS BIGINT) AS lsh_hits,
           CAST(CAST(SUM(COALESCE(l.lsh_hit, 0)) AS BIGINT) * 1000000
             // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS lsh_recall_ppm,
           CAST(SUM(COALESCE(i.ivf_hit, 0)) AS BIGINT) AS ivf_hits,
           CAST(CAST(SUM(COALESCE(i.ivf_hit, 0)) AS BIGINT) * 1000000
             // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS ivf_recall_ppm
    FROM exact e
    LEFT JOIN lsh l USING (query_id, neighbor_id)
    LEFT JOIN ivf i USING (query_id, neighbor_id)
    GROUP BY e.query_id ORDER BY e.query_id
    """


@register("q159_ann_recall", oracle=_q159_oracle())
def q159_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 per query for LSH and IVF against exact top-5:
    |approx ∩ exact| ppm over the exact hit count (ppm integer — no
    float division), plus the hit counts themselves. LEFT join from
    the exact set: a query whose bucket/probe list misses everything
    still reports 0. All joins on (query_id, neighbor_id) — tiny
    ranked sets, broadcast-joined."""
    exact = REGISTRY["q35_cosine_topk"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    lsh = REGISTRY["q36_ann_lsh_topk"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("lsh_hit")
    )
    ivf = REGISTRY["q45_ivf_topk"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("ivf_hit")
    )
    return (
        exact.join(F.broadcast(lsh), ["query_id", "neighbor_id"], "left")
        .join(F.broadcast(ivf), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.sum(F.coalesce("lsh_hit", F.lit(0))).cast("long").alias("lsh_hits"),
            F.sum(F.coalesce("ivf_hit", F.lit(0))).cast("long").alias("ivf_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            "lsh_hits",
            F.expr("lsh_hits * 1000000 div n_exact").alias("lsh_recall_ppm"),
            "ivf_hits",
            F.expr("ivf_hits * 1000000 div n_exact").alias("ivf_recall_ppm"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------- q171
# Matryoshka truncation audit: how much cosine similarity the exact
# top-5 pairs LOSE when embeddings are truncated to their 16- and
# 32-dim prefixes — the measurement behind MRL-style dimension
# reduction (serve prefix dims, keep most of the ranking signal).
# Everything quantizes to exact integer ppm after one deterministic
# left-to-right accumulation, so the oracle is exact.


def _cos_duck_sliced(d: int) -> str:
    a, b = f"list_slice(qvec, 1, {d})", f"list_slice(cvec, 1, {d})"
    return (
        f"(list_aggregate(list_transform(list_zip({a}, {b}),"
        f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum'))"
        f" / (sqrt(list_aggregate(list_transform({a},"
        f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
        f" * sqrt(list_aggregate(list_transform({b},"
        f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))"
    )


def _q171_oracle() -> str:
    pairs = "(" + REGISTRY["q35_cosine_topk"].oracle + ")"
    q6 = "CAST(floor(({c}) * 1000000 + 0.5) AS BIGINT)"
    return f"""
    WITH pairs AS (SELECT query_id, neighbor_id FROM {pairs}),
    v AS (
      SELECT p.query_id, p.neighbor_id, a.embedding AS qvec, b.embedding AS cvec
      FROM pairs p
      JOIN embeddings a ON a.vec_id = p.query_id
      JOIN embeddings b ON b.vec_id = p.neighbor_id
    ),
    m AS (
      SELECT query_id, neighbor_id,
             {q6.format(c=_cos_duck_sliced(16))} AS cos16_ppm,
             {q6.format(c=_cos_duck_sliced(32))} AS cos32_ppm,
             {q6.format(c=_COS)} AS cos64_ppm
      FROM v
    )
    SELECT query_id, neighbor_id, cos16_ppm, cos32_ppm, cos64_ppm,
           CAST(cos64_ppm - cos16_ppm AS BIGINT) AS loss16_ppm,
           CAST(cos64_ppm - cos32_ppm AS BIGINT) AS loss32_ppm
    FROM m ORDER BY query_id, neighbor_id
    """


@register("q171_matryoshka_audit", oracle=_q171_oracle())
def q171_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-dimension cosine audit over the exact top-5 pairs:
    cosine at dims 16/32/64 in exact integer ppm, plus the ppm loss of
    each truncation vs the full vector — the evidence for (or against)
    serving truncated matryoshka embeddings.

    Scale shape: the pair list is the top-k sliver broadcast against
    the embedding table twice (id equi-joins); the three cosines are
    one narrow projection over the joined sliver (left-to-right HOF
    accumulation — deterministic, oracle-matched); no shuffle beyond
    the output sort."""
    from ..operators.similarity import cosine_expr

    pairs = REGISTRY["q35_cosine_topk"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    v = (
        pairs.join(
            emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")),
            "query_id",
        )
        .join(
            emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.expr("slice(qvec, 1, 16)").alias("q16"),
            F.expr("slice(cvec, 1, 16)").alias("c16"),
            F.expr("slice(qvec, 1, 32)").alias("q32"),
            F.expr("slice(cvec, 1, 32)").alias("c32"),
            "qvec",
            "cvec",
        )
    )

    def q6(col):
        return F.expr(f"CAST(floor(({col}) * 1000000 + 0.5) AS BIGINT)")

    m = (
        v.withColumn("__c16", cosine_expr("q16", "c16"))
        .withColumn("__c32", cosine_expr("q32", "c32"))
        .withColumn("__c64", cosine_expr("qvec", "cvec"))
        .select(
            "query_id",
            "neighbor_id",
            q6("__c16").alias("cos16_ppm"),
            q6("__c32").alias("cos32_ppm"),
            q6("__c64").alias("cos64_ppm"),
        )
    )
    return m.select(
        "query_id",
        "neighbor_id",
        "cos16_ppm",
        "cos32_ppm",
        "cos64_ppm",
        (F.col("cos64_ppm") - F.col("cos16_ppm")).cast("long").alias("loss16_ppm"),
        (F.col("cos64_ppm") - F.col("cos32_ppm")).cast("long").alias("loss32_ppm"),
    ).orderBy("query_id", "neighbor_id")


# --------------------------------------------------------------- q174
# Quantized-cosine drift audit: q64 certifies the int8 quantizer
# per-vector (reconstruction error, checksums); this certifies its
# RETRIEVAL impact — how far pairwise cosine similarity moves when
# computed on the int8 codes instead of the floats. The accept/reject
# gate a 100 TB store runs before switching its ANN scoring to the
# compressed representation.


@register(
    "q174_quant_cosine_drift",
    oracle="""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings),
    v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
      FROM embeddings
    ),
    c AS (
      SELECT vec_id,
             list_transform(e, x -> greatest(CAST(-127 AS BIGINT),
               least(CAST(127 AS BIGINT), CAST(floor(x / scale + 0.5) AS BIGINT)))) AS c8,
             list_transform(e, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS q6
      FROM v WHERE scale > 0
    ),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.c8 AS ca, b.c8 AS cb, a.q6 AS qa, b.q6 AS qb
      FROM c a, c b, n
      WHERE a.vec_id < 32 AND b.vec_id = a.vec_id + n_vecs // 2
    ),
    s AS (
      SELECT id_a, id_b,
        CAST(list_aggregate(list_transform(list_zip(ca, cb), z -> z[1] * z[2]), 'sum') AS BIGINT) AS dot8,
        CAST(list_aggregate(list_transform(ca, x -> x * x), 'sum') AS BIGINT) AS n8a,
        CAST(list_aggregate(list_transform(cb, x -> x * x), 'sum') AS BIGINT) AS n8b,
        CAST(list_aggregate(list_transform(list_zip(qa, qb), z -> z[1] * z[2]), 'sum') AS BIGINT) AS dotq,
        CAST(list_aggregate(list_transform(qa, x -> x * x), 'sum') AS BIGINT) AS nqa,
        CAST(list_aggregate(list_transform(qb, x -> x * x), 'sum') AS BIGINT) AS nqb
      FROM p
    )
    SELECT id_a, id_b, dot8,
      CAST(floor(CAST(dot8 AS DOUBLE) * 1000000.0
           / (sqrt(CAST(n8a AS DOUBLE)) * sqrt(CAST(n8b AS DOUBLE)))) AS BIGINT) AS cos8_ppm,
      CAST(floor(CAST(dotq AS DOUBLE) * 1000000.0
           / (sqrt(CAST(nqa AS DOUBLE)) * sqrt(CAST(nqb AS DOUBLE)))) AS BIGINT) AS cosq_ppm,
      abs(CAST(floor(CAST(dot8 AS DOUBLE) * 1000000.0
           / (sqrt(CAST(n8a AS DOUBLE)) * sqrt(CAST(n8b AS DOUBLE)))) AS BIGINT)
        - CAST(floor(CAST(dotq AS DOUBLE) * 1000000.0
           / (sqrt(CAST(nqa AS DOUBLE)) * sqrt(CAST(nqb AS DOUBLE)))) AS BIGINT)) AS drift_ppm
    FROM s ORDER BY id_a
    """,
)
def q174_quant_cosine_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine drift of the q64 int8 quantizer: for 32 spread
    pairs (vec a < 32 paired with a + N/2), the cosine computed on the
    int8 codes vs on 1e6-quantized floats, both as exact-pipeline ppm
    (integer dot products and norms; sqrt is IEEE-correctly-rounded and
    the one multiply/divide sequence is fixed, so both engines produce
    identical doubles), and the absolute drift between them.

    Scale shape: the quantization is a narrow map (q64's exact
    quantizer — floor(x/scale + 0.5), clamped); the 32-row anchor side
    broadcasts against one corpus scan for the pair join; every dot
    product is a JVM zip_with/aggregate over exact BIGINTs. No shuffle
    but the final ORDER BY."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = (
        emb.select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
        )
        .withColumn(
            "scale",
            F.expr(
                "aggregate(e, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(x))) / 127.0"
            ),
        )
        .where(F.col("scale") > 0)
        .select(
            "vec_id",
            F.expr(
                "transform(e, x -> greatest(CAST(-127 AS BIGINT), "
                "least(CAST(127 AS BIGINT), CAST(floor(x / scale + 0.5) AS BIGINT))))"
            ).alias("c8"),
            F.expr(
                "transform(e, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))"
            ).alias("q6"),
        )
    )
    n = emb.agg(F.count("*").cast("long").alias("n_vecs"))
    a = (
        e.where(F.col("vec_id") < 32)
        .crossJoin(F.broadcast(n))
        .select(
            F.col("vec_id").alias("id_a"),
            F.expr("vec_id + n_vecs div 2").alias("id_b"),
            F.col("c8").alias("ca"),
            F.col("q6").alias("qa"),
        )
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col("c8").alias("cb"), F.col("q6").alias("qb")
    )
    isum = "aggregate({x}, CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    dot = lambda x, y: isum.format(x=f"zip_with({x}, {y}, (p, q) -> p * q)")  # noqa: E731
    s = F.broadcast(a).join(b, "id_b").select(
        "id_a",
        "id_b",
        F.expr(dot("ca", "cb")).alias("dot8"),
        F.expr(dot("ca", "ca")).alias("n8a"),
        F.expr(dot("cb", "cb")).alias("n8b"),
        F.expr(dot("qa", "qb")).alias("dotq"),
        F.expr(dot("qa", "qa")).alias("nqa"),
        F.expr(dot("qb", "qb")).alias("nqb"),
    )
    cos = (
        "CAST(floor(CAST({d} AS DOUBLE) * 1000000.0"
        " / (sqrt(CAST({a} AS DOUBLE)) * sqrt(CAST({b} AS DOUBLE)))) AS BIGINT)"
    )
    c8 = cos.format(d="dot8", a="n8a", b="n8b")
    cq = cos.format(d="dotq", a="nqa", b="nqb")
    return s.select(
        "id_a",
        "id_b",
        "dot8",
        F.expr(c8).alias("cos8_ppm"),
        F.expr(cq).alias("cosq_ppm"),
        F.expr(f"abs(({c8}) - ({cq}))").alias("drift_ppm"),
    ).orderBy("id_a")


# --------------------------------------------------------------- q179
# IVF delete (tombstones): the remove side of index maintenance —
# q152 absorbs a new batch under frozen centroids, this removes one.
# The deleted set is a deterministic quarter of the corpus
# (vec_id % 4 == 1), centroids stay trained on the FULL base (deletes
# never retrain), and queries probe the shrunk inverted lists, so
# removed vectors stop being retrievable immediately.


@register(
    "q179_ivf_delete",
    oracle=f"""
    WITH {_CENTS_CTE},
    live AS (
      SELECT vec_id AS neighbor_id, embedding AS cvec
      FROM embeddings WHERE vec_id % 4 <> 1
    ),
    lassign AS (
      SELECT neighbor_id, cvec, cell FROM (
        SELECT l.neighbor_id, l.cvec, c.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY l.neighbor_id
                 ORDER BY {_cent_cos('l.cvec')} DESC, c.cid) AS rn
        FROM live l CROSS JOIN {_FINAL_CENTS} c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qvec, cid FROM (
        SELECT e.vec_id AS query_id, e.embedding AS qvec, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cent_cos('e.embedding')} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN {_FINAL_CENTS} c
        WHERE e.vec_id < 10
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT p.query_id, a.neighbor_id, a.cell,
             {_COS.replace('qvec', 'p.qvec').replace('cvec', 'a.cvec')} AS cosine
      FROM lassign a JOIN probes p ON a.cell = p.cid
      WHERE a.neighbor_id != p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cell, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, cell, ROUND(cosine, 6) AS cosine
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def q179_ivf_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone-delete a quarter of the corpus (vec_id % 4 == 1) from
    the IVF index without retraining: frozen base-trained centroids,
    anti-join of the tombstone set, 2-probe exact re-rank over the
    shrunk lists — per-query top-5 with each neighbor's inverted-list
    cell. No deleted id can appear in any result (the oracle's live
    filter enforces the same). See
    operators/similarity.py:ivf_delete_topk."""
    from ..operators.similarity import ivf_delete_topk

    emb = load_table(spark, sf_dir, "embeddings")
    deleted = emb.where(F.expr("vec_id % 4 = 1")).select("vec_id")
    queries = emb.where(F.col("vec_id") < 10)
    return ivf_delete_topk(
        emb, deleted, queries, "vec_id", "embedding",
        k=5, n_centroids=8, n_probe=2, lloyd_iters=2, dim=64,
    ).orderBy("query_id", "rank")


# --------------------------------------------------------------- q184
# Embedding-space benchmark decontamination (round 8, VERDICT r7 task
# #5) — the semantic-leakage complement to q65/q69's n-gram arm: a
# training item paraphrasing a benchmark question shares no long exact
# gram but sits next to it in embedding space. Probes are the q65
# benchmark-slice convention (vec_id % 97 = 0) so the check runs on
# the stock testdata; at production scale the probe frame is the
# benchmark suite's embeddings, broadcast exactly the same way.

_DECON_TAU = 0.28  # ~p99 of the probe-cosine distribution in testdata


@register(
    "q184_embedding_decontam",
    oracle=f"""
    WITH p AS (SELECT vec_id AS pid, embedding AS pvec FROM embeddings
               WHERE vec_id % 97 = 0),
    scored AS (
      SELECT e.vec_id, p.pid,
             (list_aggregate(list_transform(list_zip(e.embedding, p.pvec),
                z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum'))
             / (sqrt(list_aggregate(list_transform(e.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
              * sqrt(list_aggregate(list_transform(p.pvec,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS c
      FROM embeddings e JOIN p ON e.vec_id <> p.pid
    ),
    ranked AS (
      SELECT vec_id, pid, c,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, pid) AS rn,
             CAST(SUM(CASE WHEN c >= {_DECON_TAU} THEN 1 ELSE 0 END)
                  OVER (PARTITION BY vec_id) AS BIGINT) AS n_probe_hits
      FROM scored
    )
    SELECT e.vec_id,
           COALESCE(r.n_probe_hits, 0) AS n_probe_hits,
           r.pid AS top_probe_id,
           r.c AS top_probe_cos,
           COALESCE(r.n_probe_hits, 0) > 0 AS is_contaminated
    FROM embeddings e
    LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r USING (vec_id)
    ORDER BY vec_id
    """,
)
def q184_embedding_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training vectors semantically too close to a benchmark
    probe: every corpus embedding scores against the broadcast probe
    set with the shared left-fold cosine (Arrow numpy kernel ≡ SQL
    fold, bit-identical), hits at cosine ≥ 0.28 count per vector, and
    the best probe (ties by min probe id) is attached. Map-only
    broadcast scan + one uniform-key aggregation — the q174-anchor
    shape. See operators/similarity.py::embedding_decontaminate."""
    from ..operators.similarity import embedding_decontaminate

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    return embedding_decontaminate(
        emb, probes, "vec_id", "embedding", threshold=_DECON_TAU, dim=64
    ).orderBy("vec_id")


# --------------------------------------------------------------- q185
# IVF-pruned decontamination — the 100 TB scale path next to q184's
# brute probe scan (|corpus|·|probes| cosines): score a corpus vector
# only against probes whose n_probe=2 nearest k-means cells include
# the vector's cell. Shares the q94/q181 trained cells via _sd_cells
# (the q93 composite trains ONCE for dedup + stats + both decontam
# arms); recall is approximate by design and the composite's join
# with q184's exact verdict makes the missed set a column diff.

_IVF_DECON_COS = (
    "(list_aggregate(list_transform(list_zip(a.cvec, p.pvec),"
    " z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum'))"
    " / (sqrt(list_aggregate(list_transform(a.cvec,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
    " * sqrt(list_aggregate(list_transform(p.pvec,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))"
)


@register(
    "q185_ivf_decontam",
    oracle=f"""
    WITH {_CENTS_CTE},
    sd_assign AS MATERIALIZED (
      SELECT neighbor_id, cvec, cid FROM (
        SELECT e.vec_id AS neighbor_id, e.embedding AS cvec, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {_cent_cos('e.embedding')} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN {_FINAL_CENTS} c
      ) WHERE rn = 1
    ),
    pc AS (
      SELECT pid, pvec, cid FROM (
        SELECT e.vec_id AS pid, e.embedding AS pvec, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {_cent_cos('e.embedding')} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN {_FINAL_CENTS} c
        WHERE e.vec_id % 97 = 0
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT a.neighbor_id AS vec_id, p.pid, {_IVF_DECON_COS} AS c
      FROM sd_assign a JOIN pc p USING (cid)
      WHERE a.neighbor_id <> p.pid
    ),
    ranked AS (
      SELECT vec_id, pid, c,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, pid) AS rn,
             CAST(SUM(CASE WHEN c >= {_DECON_TAU} THEN 1 ELSE 0 END)
                  OVER (PARTITION BY vec_id) AS BIGINT) AS ivf_probe_hits
      FROM scored
    )
    SELECT e.vec_id,
           COALESCE(r.ivf_probe_hits, 0) AS ivf_probe_hits,
           r.pid AS ivf_top_probe_id,
           r.c AS ivf_top_probe_cos,
           COALESCE(r.ivf_probe_hits, 0) > 0 AS ivf_contaminated
    FROM embeddings e
    LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r USING (vec_id)
    ORDER BY vec_id
    """,
)
def q185_ivf_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-pruned decontamination over the shared q94 k-means cells:
    probes rank the broadcast centroid list (top-2 cells each, the q45
    probe kernel), candidates are the corpus-assignment ⨝ broadcast
    probe-cells join on cid, and hits at the q184 threshold aggregate
    per vector. The oracle replays the full trajectory — seeding,
    Lloyd, both assignments, the pruned scoring — so the approximate
    verdict is value-pinned, missed-leak behavior included. See
    operators/similarity.py::ivf_decontaminate."""
    from ..operators.similarity import ivf_decontaminate

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    return ivf_decontaminate(
        emb, probes, "vec_id", "embedding", threshold=_DECON_TAU,
        n_probe=2, dim=64, cells=_sd_cells(spark, sf_dir),
    ).orderBy("vec_id")


# --------------------------------------------------------------- q191
# External-id-space decontamination (round 10, VERDICT r9 #6): the
# probes_from_corpus contract added in round 9 says the self-pair
# exclusion (probe never scores the corpus row with the same id) is
# ONLY valid when probe ids live in the corpus id space — an external
# benchmark whose item numbers happen to collide with corpus vec_ids
# would otherwise have its real leaks silently skipped. This query
# PLANTS exactly that: an "external benchmark" of ten items whose ids
# numerically collide with corpus vec_ids 0..9 and whose vectors are
# verbatim copies of those corpus rows (the archetypal benchmark leak:
# the benchmark item itself is in the training set). Both arms run —
# probes_from_corpus=False (correct for an external id space) and
# =True (the mis-declared gate) — and `missed_if_gated` is the
# false-negative diff the contract exists to prevent. Oracle-checked
# end-to-end via the q93 composite, not just unit-checked.

_EXT_TAU = 0.9  # near-verbatim only: the planted self-copies hit, the
#                 corpus's ordinary 0.28-level neighbors do not


@register(
    "q191_external_decontam",
    oracle=f"""
    WITH p AS (SELECT vec_id AS pid, embedding AS pvec FROM embeddings
               WHERE vec_id < 10),
    scored AS (
      SELECT e.vec_id, p.pid,
             (list_aggregate(list_transform(list_zip(e.embedding, p.pvec),
                z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum'))
             / (sqrt(list_aggregate(list_transform(e.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
              * sqrt(list_aggregate(list_transform(p.pvec,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS c
      FROM embeddings e CROSS JOIN p
    ),
    ranked AS (
      SELECT vec_id, pid, c,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, pid) AS rn,
             CAST(SUM(CASE WHEN c >= {_EXT_TAU} THEN 1 ELSE 0 END)
                  OVER (PARTITION BY vec_id) AS BIGINT) AS n_probe_hits
      FROM scored
    ),
    -- the mis-declared arm: identical scan, but the id-equality
    -- "self-pair" exclusion wrongly applied to an external id space
    g_ranked AS (
      SELECT vec_id, c,
             CAST(SUM(CASE WHEN c >= {_EXT_TAU} THEN 1 ELSE 0 END)
                  OVER (PARTITION BY vec_id) AS BIGINT) AS g_hits
      FROM scored WHERE vec_id <> pid
    ),
    g AS (SELECT vec_id, MAX(g_hits) AS gated_hits FROM g_ranked GROUP BY vec_id)
    SELECT e.vec_id,
           COALESCE(r.n_probe_hits, 0) AS n_probe_hits,
           r.pid AS top_probe_id,
           r.c AS top_probe_cos,
           COALESCE(r.n_probe_hits, 0) > 0 AS is_contaminated,
           COALESCE(g.gated_hits, 0) AS gated_hits,
           COALESCE(g.gated_hits, 0) > 0 AS gated_contaminated,
           (COALESCE(r.n_probe_hits, 0) > 0
            AND NOT COALESCE(g.gated_hits, 0) > 0) AS missed_if_gated
    FROM embeddings e
    LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r USING (vec_id)
    LEFT JOIN g USING (vec_id)
    ORDER BY vec_id
    """,
)
def q191_external_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-leak audit of the probes_from_corpus contract: ten
    "external benchmark" probes with id-colliding verbatim copies of
    corpus vectors; the correctly-declared arm
    (``probes_from_corpus=False``) catches every planted leak, the
    mis-declared arm skips exactly the colliding self-pairs, and
    ``missed_if_gated`` is the resulting false-negative set. Both arms
    are the same broadcast map-only scan + per-vector aggregation as
    q184 (probes are benchmark-sized; the corpus never shuffles for
    scoring). See operators/similarity.py::embedding_decontaminate."""
    from ..operators.similarity import embedding_decontaminate

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    ext = embedding_decontaminate(
        emb, probes, "vec_id", "embedding", threshold=_EXT_TAU, dim=64,
        probes_from_corpus=False,
    )
    gated = embedding_decontaminate(
        emb, probes, "vec_id", "embedding", threshold=_EXT_TAU, dim=64,
        probes_from_corpus=True,
    ).select(
        "vec_id",
        F.col("n_probe_hits").alias("gated_hits"),
        F.col("is_contaminated").alias("gated_contaminated"),
    )
    return (
        ext.join(gated, "vec_id")
        .select(
            "vec_id", "n_probe_hits", "top_probe_id", "top_probe_cos",
            "is_contaminated", "gated_hits", "gated_contaminated",
            (F.col("is_contaminated") & ~F.col("gated_contaminated")).alias(
                "missed_if_gated"
            ),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------- q202
# IVF recall-vs-nprobe sweep — the ANN tuning curve an index operator
# reads before fixing n_probe in production: train ONCE (the q45
# k-means trajectory, shared verbatim), then measure micro-averaged
# recall@5 against the exact q35 top-5 at n_probe ∈ {1, 2, 4, 8}.
# One centroid training, one materialized corpus assignment, four
# broadcast probe joins — the corpus never re-shuffles per setting;
# the oracle replays the SAME _CENTS_CTE trajectory with the probe
# rank filter swept.

_SWEEP_PROBES = (1, 2, 4, 8)


def _q202_oracle() -> str:
    exact = "(" + REGISTRY["q35_cosine_topk"].oracle + ")"
    cos = _COS.replace("qvec", "p.qvec").replace("cvec", "a.cvec")
    arms = []
    for np_ in _SWEEP_PROBES:
        arms.append(f"""
    scored{np_} AS (
      SELECT p.query_id, a.neighbor_id, {cos} AS cosine
      FROM assign a JOIN proberanks p USING (cid)
      WHERE a.neighbor_id != p.query_id AND p.rn <= {np_}
    ),
    top{np_} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored{np_}
      ) WHERE rank <= 5
    ),
    hit{np_} AS (
      SELECT CAST({np_} AS BIGINT) AS n_probe,
             CAST(COUNT(DISTINCT e.query_id) AS BIGINT) AS n_queries,
             CAST(COUNT(*) AS BIGINT) AS n_exact,
             CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM exact e LEFT JOIN top{np_} t USING (query_id, neighbor_id)
    )""")
    union = "\n      UNION ALL ".join(
        f"SELECT * FROM hit{np_}" for np_ in _SWEEP_PROBES
    )
    return f"""
    WITH {_CENTS_CTE},
    assign AS (
      SELECT neighbor_id, cvec, cid FROM (
        SELECT e.vec_id AS neighbor_id, e.embedding AS cvec, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cent_cos('e.embedding')} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN {_FINAL_CENTS} c
      ) WHERE rn = 1
    ),
    proberanks AS (
      SELECT query_id, qvec, cid, rn FROM (
        SELECT e.vec_id AS query_id, e.embedding AS qvec, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cent_cos('e.embedding')} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN {_FINAL_CENTS} c
        WHERE e.vec_id < 10
      ) WHERE rn <= {max(_SWEEP_PROBES)}
    ),
    exact AS (SELECT query_id, neighbor_id FROM {exact}),{",".join(arms)}
    SELECT n_probe, n_queries, n_exact, n_hits,
           CAST(n_hits * 1000000 // n_exact AS BIGINT) AS recall_ppm
    FROM ({union}) ORDER BY n_probe
    """


@register("q202_ivf_nprobe_sweep", oracle=None)  # set below (needs q35)
def q202_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-averaged recall@5 vs n_probe for the q45 IVF index:
    per probe setting the query count, exact-pair count, approx hits
    and recall in exact integer ppm. ONE k-means training + ONE
    materialized corpus assignment — the ``_ivf_eval_index`` memo
    SHARED with the q205 cost audit — feed all four probe settings
    (the assignment is a projection; each setting adds only a
    broadcast probe join + a per-query top-5)."""
    from ..operators.similarity import _nearest_cells_udf, cosine_expr
    from ..operators.staging import materialize

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    centers, assign = _ivf_eval_index(spark, sf_dir)
    exact = REGISTRY["q35_cosine_topk"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    # score ONCE at the ladder's widest probe setting with the probe
    # rank attached (the probe list is ranked, so setting p's candidate
    # set is exactly pr <= p), then each setting pays only a filter +
    # its own top-5 window over the staged scored sliver — the former
    # per-setting _ivf_query loop re-ran the probe UDF, the broadcast
    # join and the Arrow cosine kernel over (1+2+4+8)/8 ≈ 1.9× the
    # widest candidate set (guide §1.2: fewer passes; value-identical,
    # pinned by the oracle). |Q|·probed-cells rows, 4 narrow columns →
    # checkpoint per the sliver staging rule.
    dim = len(centers[0][1])
    probes8 = q.select(
        "query_id",
        "qvec",
        F.posexplode(
            _nearest_cells_udf(centers, max(_SWEEP_PROBES))(F.col("qvec"))
        ).alias("pr0", "cid"),
    )
    scored = materialize(
        assign.join(F.broadcast(probes8), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            (F.col("pr0") + 1).alias("pr"),
            "neighbor_id",
            cosine_expr("qvec", "cvec", dim).alias("cosine"),
        ),
        label="q202_scored",
        default="checkpoint",
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    per = None
    for np_ in _SWEEP_PROBES:
        a = (
            scored.where(F.col("pr") <= np_)
            .withColumn("rank", F.row_number().over(w_rank))
            .where(F.col("rank") <= 5)
            .select(
                F.lit(np_).cast("long").alias("n_probe"),
                "query_id",
                "neighbor_id",
                F.lit(1).alias("hit"),
            )
        )
        per = a if per is None else per.unionByName(a)
    ex4 = exact.withColumn(
        "n_probe",
        F.explode(F.array(*[F.lit(v).cast("long") for v in _SWEEP_PROBES])),
    )
    return (
        ex4.join(F.broadcast(per), ["n_probe", "query_id", "neighbor_id"], "left")
        .groupBy("n_probe")
        .agg(
            F.countDistinct("query_id").cast("long").alias("n_queries"),
            F.count("*").cast("long").alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
        )
        .select(
            "n_probe",
            "n_queries",
            "n_exact",
            "n_hits",
            F.expr("n_hits * 1000000 div n_exact").alias("recall_ppm"),
        )
        .orderBy("n_probe")
    )


REGISTRY["q202_ivf_nprobe_sweep"].oracle = _q202_oracle()


# --------------------------------------------------------------- q205
# ANN cost audit — the other half of q202's tuning picture: recall
# curves without COST curves don't pick an operating point. Per
# method (brute force, the q36 LSH bucket, the q45 IVF index at
# n_probe ∈ {1,2,4,8}) this reports the exact number of candidate
# vectors a query examines (self excluded) — brute pays N−1, LSH pays
# its bucket's population, IVF pays the probed cells' populations.
# All counts come from the SAME registered index structures: the
# shared _bucket_duck planes, the shared _CENTS_CTE k-means
# trajectory — and q202/q205 share ONE trained centers + assignment
# via the _ivf_eval_index memo (the _sd_cells pattern), so "cost and
# recall measured on identical indexes" holds by construction, not by
# coincidentally identical arguments.

_COST_PROBES = _SWEEP_PROBES  # one probe ladder for recall AND cost


def _ivf_eval_index(spark: SparkSession, sf_dir: str) -> tuple:
    """ONE (centers, materialized assignment) per (app, corpus) for
    the q202 recall sweep and the q205 cost audit — the q45 training
    arguments (8 centroids, 2 Lloyd iterations, dim 64, oversample
    seed), trained once and reused by every probe setting of both
    consumers."""
    from ..operators.similarity import _assign_nearest, ivf_train_centers
    from ..operators.staging import materialize

    def build() -> tuple:
        emb = load_table(spark, sf_dir, "embeddings")
        centers = ivf_train_centers(emb, "vec_id", "embedding", 8, 2, 64)
        c = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cvec"),
        )
        assign = materialize(
            _assign_nearest(c, centers),
            label="ivf_eval_assign",
            default="checkpoint",
        )
        return centers, assign

    return memoized("ivf_eval_index", spark, sf_dir, build)


def _q205_oracle() -> str:
    probe_arms = " UNION ALL ".join(
        f"""SELECT concat('ivf@', CAST({p} AS VARCHAR)) AS method, query_id,
           CAST(SUM(CASE WHEN rn <= {p} THEN cell_n ELSE 0 END) - 1 AS BIGINT)
             AS candidates
         FROM probed GROUP BY query_id"""
        for p in _COST_PROBES
    )
    return f"""
    WITH {_CENTS_CTE},
    assign AS (
      SELECT neighbor_id, cid FROM (
        SELECT e.vec_id AS neighbor_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cent_cos('e.embedding')} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN {_FINAL_CENTS} c
      ) WHERE rn = 1
    ),
    cellsz AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS cell_n FROM assign GROUP BY cid
    ),
    proberanks AS (
      SELECT query_id, cid, rn FROM (
        SELECT e.vec_id AS query_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cent_cos('e.embedding')} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN {_FINAL_CENTS} c
        WHERE e.vec_id < 10
      ) WHERE rn <= {max(_COST_PROBES)}
    ),
    probed AS (
      SELECT p.query_id, p.rn, s.cell_n
      FROM proberanks p JOIN cellsz s USING (cid)
    ),
    n_corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    lsh AS (
      SELECT q.vec_id AS query_id,
             CAST(b.bn - 1 AS BIGINT) AS candidates
      FROM (SELECT vec_id, {_bucket_duck('embedding')} AS bucket
            FROM embeddings WHERE vec_id < 10) q
      JOIN (SELECT {_bucket_duck('embedding')} AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS bn
            FROM embeddings GROUP BY 1) b USING (bucket)
    ),
    per_query AS (
      SELECT 'brute' AS method, e.vec_id AS query_id,
             CAST((SELECT n FROM n_corpus) - 1 AS BIGINT) AS candidates
      FROM embeddings e WHERE e.vec_id < 10
      UNION ALL
      SELECT 'lsh' AS method, query_id, candidates FROM lsh
      UNION ALL
      {probe_arms}
    )
    SELECT method,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(candidates) AS BIGINT) AS total_candidates,
           CAST(MIN(candidates) AS BIGINT) AS min_candidates,
           CAST(MAX(candidates) AS BIGINT) AS max_candidates,
           CAST(SUM(candidates) * 1000000
             // (SELECT ((SELECT n FROM n_corpus) - 1) * COUNT(*)
                 FROM embeddings WHERE vec_id < 10) AS BIGINT) AS work_vs_brute_ppm
    FROM per_query GROUP BY method ORDER BY method
    """


@register("q205_ann_cost_audit", oracle=None)  # set below
def q205_ann_cost_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact candidates-examined counts per ANN method (self
    excluded): brute = N−1 per query; LSH = the query's bucket
    population; IVF@p = the p probed cells' populations, on the same
    trained index q202 measures recall on. One row per method with
    query count, total/min/max candidates and total work as a ppm
    share of brute force."""
    from ..operators.similarity import _nearest_cells_udf, lsh_bucket_key

    emb = load_table(spark, sf_dir, "embeddings")
    n_corpus = emb.count()
    queries = emb.where(F.col("vec_id") < 10)
    n_queries = queries.count()
    brute_total = n_corpus - 1

    key = lsh_bucket_key("embedding", 4, 64)
    bsz = (
        emb.select(key.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("bn"))
    )
    lsh = (
        queries.select(F.col("vec_id").alias("query_id"), key.alias("bucket"))
        .join(F.broadcast(bsz), "bucket")
        .select(
            F.lit("lsh").alias("method"),
            "query_id",
            (F.col("bn") - 1).cast("long").alias("candidates"),
        )
    )
    brute = queries.select(
        F.lit("brute").alias("method"),
        F.col("vec_id").alias("query_id"),
        F.lit(brute_total).cast("long").alias("candidates"),
    )
    centers, assign = _ivf_eval_index(spark, sf_dir)
    cellsz = assign.groupBy("cid").agg(
        F.count("*").cast("long").alias("cell_n")
    )
    probed = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.posexplode(
                _nearest_cells_udf(centers, max(_COST_PROBES))(F.col("embedding"))
            ).alias("idx", "cid"),
        )
        .join(F.broadcast(cellsz), "cid")
        .select("query_id", (F.col("idx") + 1).alias("rn"), "cell_n")
    )
    # ONE aggregation computes every probe setting's candidate count
    # (conditional sums over the probe rank), then stack() unpivots to
    # the per-method rows — the former per-setting loop re-evaluated
    # the probed-cells subplan, and with it the corpus-scale cell-size
    # aggregation, once per ladder entry (guide §1.2: 4 corpus passes
    # → 1; value-identical, pinned by the oracle)
    pq = probed.groupBy("query_id").agg(
        *[
            (F.sum(F.when(F.col("rn") <= p, F.col("cell_n")).otherwise(0)) - 1)
            .cast("long")
            .alias(f"c{p}")
            for p in _COST_PROBES
        ]
    )
    stack_args = ", ".join(f"'ivf@{p}', c{p}" for p in _COST_PROBES)
    ivf = pq.select(
        F.expr(
            f"stack({len(_COST_PROBES)}, {stack_args}) AS (method, candidates)"
        ),
        "query_id",
    ).select("method", "query_id", "candidates")
    per_query = brute.unionByName(lsh).unionByName(ivf)
    return (
        per_query.groupBy("method")
        .agg(
            F.count("*").cast("long").alias("n_queries"),
            F.sum("candidates").cast("long").alias("total_candidates"),
            F.min("candidates").cast("long").alias("min_candidates"),
            F.max("candidates").cast("long").alias("max_candidates"),
        )
        .select(
            "method",
            "n_queries",
            "total_candidates",
            "min_candidates",
            "max_candidates",
            F.expr(
                f"CAST(total_candidates * 1000000 DIV "
                f"{brute_total * n_queries} AS BIGINT)"
            ).alias("work_vs_brute_ppm"),
        )
        .orderBy("method")
    )


REGISTRY["q205_ann_cost_audit"].oracle = _q205_oracle()

"""Similarity search over embedding columns (array<float>).

Two tiers (SURVEY §7.2 step 8 / BASELINE north star):

- **Brute-force cosine top-k** — the exactness baseline. Query set ×
  corpus join; the dot product is a JVM higher-order expression
  (zip_with + aggregate), accumulated in DOUBLE left-to-right so the
  DuckDB oracle (same formula, same order) matches bit-for-bit.
- **LSH-bucketed ANN** — the 100 TB path: sign-of-projection bucket
  keys from deterministic pseudo-random hyperplanes (md5-seeded, so
  both engines can derive identical planes); candidates only within
  the query's bucket, then exact re-rank. Cuts the join from
  |Q|×|corpus| to |Q|×bucket.

Skew/scale notes: the corpus side partitions uniformly; the (small)
query side is broadcast, so brute force is a map-side join + per-
partition top-k (no shuffle of the corpus), and ANN shuffles only on
bucket keys.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "cosine_expr",
    "topk_neighbors",
    "embedding_near_dup_pairs",
    "bucketed_embedding_near_dup",
    "lsh_bucket_topk",
    "jl_project",
    "lloyd_step",
    "maximin_seed",
    "ivf_topk",
    "ivf_train_centroids",
    "ivf_train_centers",
    "ivf_add_topk",
    "semantic_dedup",
    "semantic_dedup_cell_stats",
    "DEFAULT_CELL_CAP",
    "quantize_embeddings",
    "embedding_decontaminate",
    "ivf_decontaminate",
    "pq_adc_topk",
    "hard_negatives",
]


def _np_stack(series) -> "object":
    """Arrow hands a list<float|double> column to a pandas UDF as a
    Series of numpy arrays; stack to (n, dim) float64. The float32 →
    float64 widening is exact, matching SQL's CAST(x AS DOUBLE)."""
    import numpy as np

    return np.stack(series.to_numpy()).astype(np.float64, copy=False)


def _np_fold_dot(A, B):
    """Row-wise dot with the accumulation order of the SQL fold
    ``aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, +)``: starting from
    0.0 and adding term d in ascending d — vectorized ACROSS rows, so
    each row's sum is the identical IEEE left-fold, bit for bit."""
    import numpy as np

    acc = np.zeros(A.shape[0], dtype=np.float64)
    for d in range(A.shape[1]):
        acc += A[:, d] * B[:, d]
    return acc


def _np_cosine(A, B):
    import numpy as np

    return _np_fold_dot(A, B) / (
        np.sqrt(_np_fold_dot(A, A)) * np.sqrt(_np_fold_dot(B, B))
    )


def cosine_expr(a: str, b: str, dim: int | None = None) -> Column:
    """Cosine similarity of two array<float|double> columns.

    Left-to-right double accumulation (deterministic, oracle-matched).
    The default is the JVM higher-order fold. With ``dim`` (any fixed
    dimension — the value itself is unused) the same accumulation runs
    as an Arrow-batched numpy kernel instead: per-element interpreted
    lambda evaluation is the fold's cost (HOFs never enter codegen),
    while the numpy form vectorizes across rows and keeps the per-row
    fold order by accumulating across the dim axis — bit-identical
    results (measured ~5-10× faster on wide scoring joins)."""
    if dim is None:
        dot = f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        na = f"aggregate({a}, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        nb = f"aggregate({b}, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        return F.expr(f"({dot}) / (sqrt({na}) * sqrt({nb}))")
    import pandas as pd

    @F.pandas_udf("double")
    def _cos(av: pd.Series, bv: pd.Series) -> pd.Series:
        return pd.Series(_np_cosine(_np_stack(av), _np_stack(bv)))

    return _cos(F.col(a), F.col(b))


def oracle_cosine_sql(a: str, b: str) -> str:
    """The same formula in DuckDB SQL (same accumulation order)."""
    def dot(x, y):
        return (
            f"list_aggregate(list_transform(list_zip({x}, {y}), "
            f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')"
        )

    return f"({dot(a, b)}) / (sqrt({dot(a, a)}) * sqrt({dot(b, b)}))"


def topk_neighbors(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
    salt_parts: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Queries are broadcast; ranking ties break on neighbor id so results
    are deterministic.

    ``salt_parts`` is the 100 TB lever for the final rank: the default
    single window per query funnels ALL of a query's scored corpus rows
    into one task's sort. With ``salt_parts=S`` the rank runs in two
    phases (the bm25_topk shape): top-k inside (query, xxhash64(
    neighbor) % S) — S-way parallel, deterministic under retries
    because the salt derives from the data, not the partitioning —
    then the exact window over the ≤ S·k survivors per query. The
    survivor set provably contains the global top-k (any global top-k
    row is in its salt-slice's top-k), and the final (cosine DESC,
    neighbor_id) order is a unique key, so the result is IDENTICAL for
    every S (pinned by test). Default None keeps the one-window plan —
    at bench scale the extra exchange costs more than the sort."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine_expr("qvec", "cvec", dim).alias("cosine"))
    )
    if salt_parts is not None and salt_parts > 1:
        w1 = Window.partitionBy("query_id", "__salt").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        scored = (
            scored.withColumn(
                "__salt", F.pmod(F.xxhash64("neighbor_id"), F.lit(salt_parts))
            )
            .withColumn("__srk", F.row_number().over(w1))
            .where(F.col("__srk") <= k)
            .drop("__salt", "__srk")
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding-space near-dup).

    Quadratic candidate space — at scale, run on LSH buckets
    (:func:`lsh_bucket_topk` keys) instead of the full cross join."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_expr("va", "vb", dim).alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def bucketed_embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup at scale: random-hyperplane LSH buckets bound
    the candidate space, exact cosine verifies inside each bucket —
    the bucketed realization of :func:`embedding_near_dup_pairs`'
    documented scale path. Pairs split across buckets are the recall
    trade-off (standard LSH; more planes → smaller buckets, lower
    recall per table, so production runs band several plane-sets —
    here one set keeps the oracle simple).

    Scale shape: one shuffle on the bucket key (md5-derived planes,
    uniform buckets); the quadratic verify runs per bucket, never on
    the full corpus."""
    key = lsh_bucket_key(vec_col, n_planes, dim)
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), key.alias("bucket"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), key.alias("bucket"))
    return (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_expr("va", "vb", dim).alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def _plane_signs(plane: int, dim: int) -> list:
    """The deterministic ±1 hyperplane components, computed ONCE in
    Python: component d of plane p takes the low bit of
    md5('p{p}|{d}')'s first 15 hex chars — bit-identical to the SQL
    construction the DuckDB oracles use (queries/similarity.py::
    _plane_duck), but embedded as literals so Spark doesn't evaluate
    12×64 md5 calls PER ROW (the un-folded transform cost ~2 ms/row;
    the literal array is free)."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"p{plane}|{d}".encode()).hexdigest()[:15], 16) & 1 else -1.0
        for d in range(dim)
    ]


def _hyperplane_expr(vec_col: str, plane: int, dim: int) -> str:
    """Deterministic pseudo-random hyperplane sign: component d of plane
    p is +1/−1 from one md5 bit. Same construction is expressible in the
    DuckDB oracle, so buckets match exactly across engines."""
    comp = "array(" + ", ".join(
        f"CAST({int(s)} AS DOUBLE)" for s in _plane_signs(plane, dim)
    ) + ")"
    return (
        f"aggregate(zip_with({vec_col}, {comp}, (x, s) -> CAST(x AS DOUBLE) * s), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def lsh_bucket_key(vec_col: str, n_planes: int, dim: int, offset: int = 0) -> Column:
    """Random-hyperplane LSH bucket key: n sign bits → int key. With
    ``offset``, bit i reads plane ``offset + i`` (weights stay 1<<i),
    so independent keyings draw disjoint planes from the same md5
    stream."""
    bits = [
        f"(CASE WHEN ({_hyperplane_expr(vec_col, offset + i, dim)}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    ]
    return F.expr(" + ".join(bits))


def jl_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    dim: int = 64,
    plane_offset: int = 100,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: d-dim embeddings down
    to ``k`` coordinates via a deterministic ±1 sign matrix (Achlioptas
    2003 — database-friendly ±1 entries preserve pairwise distances in
    expectation with the same JL guarantee as Gaussian matrices).

    Coordinate j of a vector is the signed sum Σ_d sign(j,d)·x_d — the
    SAME md5-derived sign construction (and fold order) the LSH planes
    use, at plane ids ``plane_offset + j`` so the projection basis is
    independent of the bucketing planes. The unscaled sums are
    returned; distance comparisons divide by ``k`` (E[‖Pa−Pb‖²/k] =
    ‖a−b‖²). Map-only: k fixed sign-fold projections per row, no
    shuffle, no state — the 100 TB shape is a straight scan.

    Returns (id, p0 .. p{k-1})."""
    if k < 1:
        raise ValueError(f"jl_project: k must be >= 1, got {k}")
    for c in (id_col, vec_col):
        if c not in df.columns:
            raise ValueError(f"jl_project: column {c!r} not in df")
    return df.select(
        F.col(id_col),
        *[
            F.expr(_hyperplane_expr(vec_col, plane_offset + j, dim)).alias(f"p{j}")
            for j in range(k)
        ],
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine re-rank. The scale path — the join key is
    the bucket, not the cross product."""
    key = lsh_bucket_key(vec_col, n_planes, dim)
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"), key.alias("bucket"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"), key.alias("bucket"))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine_expr("qvec", "cvec", dim).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def _centers_list(cents: DataFrame) -> list:
    """Collect a (cid, centvec) frame into the driver-side
    ``[(cid, [float...]), ...]`` form the literal-expression helpers
    take. Centroid sets are k tiny rows (and after
    :func:`ivf_train_centroids` they are literal-backed LocalTableScans),
    so this is effectively free."""
    return [
        (int(r["cid"]), [float(x) for x in r["centvec"]]) for r in cents.collect()
    ]


def _center_arrays(centers: list):
    """Ascending-cid (cid, center ndarray, sqrt(center norm²)) triples.
    The center-side norm left-folds in Python doubles — the identical
    IEEE adds the SQL ``nb`` fold performs."""
    import math

    import numpy as np

    out = []
    for cid, cv in sorted((int(cid), cv) for cid, cv in centers):
        nb = 0.0
        for y in cv:
            nb += float(y) * float(y)
        out.append((cid, np.asarray([float(x) for x in cv], dtype=np.float64), math.sqrt(nb)))
    return out


def _cosine_lit(vec: str, cvec: list) -> Column:
    """cosine(``vec`` column, one LITERAL center) as an Arrow-batched
    numpy kernel with the fold's exact accumulation order (see
    :func:`_np_fold_dot`)."""
    import math

    import numpy as np
    import pandas as pd

    c = np.asarray([float(x) for x in cvec], dtype=np.float64)
    nb = 0.0
    for y in cvec:
        nb += float(y) * float(y)
    snb = math.sqrt(nb)

    @F.pandas_udf("double")
    def _f(av: pd.Series) -> pd.Series:
        A = _np_stack(av)
        acc = np.zeros(A.shape[0], dtype=np.float64)
        for d in range(A.shape[1]):
            acc += A[:, d] * c[d]
        return pd.Series(acc / (np.sqrt(_np_fold_dot(A, A)) * snb))

    return _f(F.col(vec))


def _assign_nearest(
    c: DataFrame,
    centers: list,
    vec: str = "cvec",
    id_: str = "neighbor_id",
    carry: tuple = (),
) -> DataFrame:
    """Nearest-centroid assignment (cosine, ties to smallest cid)
    against a driver-side literal centroid set — a MAP-ONLY Arrow
    kernel (one pandas UDF computes all k cosines and the argmax per
    batch), where the round-3 form cross-joined the corpus with the
    centroid frame and ran a per-row-id window (an N×k shuffle + sort
    per call). Each cosine keeps the SQL fold's accumulation order
    (:func:`_np_fold_dot`); the argmax iterates centers in ascending
    cid with a STRICT > update, so ties keep the smallest cid — the
    windowed ``ORDER BY cs DESC, cid ASC`` pick, bit for bit.
    ``carry`` names extra columns of ``c`` passed through unchanged.

    NaN cosines are OUT OF CONTRACT: a zero-norm vector or centroid
    yields NaN, which the strict ``>`` update never selects (it sticks
    with the first centroid), while the windowed form it replaces
    sorted NaN FIRST (Spark orders NaN after +Inf, so ``cs DESC``
    leads with it). Callers guarantee non-zero norms — the corpus
    embeddings and all md5/Lloyd-derived centroids are non-zero by
    construction (a Lloyd mean of non-zero cosine-assigned members
    can only be zero if members cancel exactly, which the test corpus
    and any real embedding table never produce); :func:`_ivf_query`'s
    probe key inherits the same contract."""
    import numpy as np
    import pandas as pd

    cents = _center_arrays(centers)

    @F.pandas_udf("long")
    def _nearest(av: pd.Series) -> pd.Series:
        A = _np_stack(av)
        sna = np.sqrt(_np_fold_dot(A, A))
        best = None
        best_cid = None
        for cid, cv, snb in cents:
            acc = np.zeros(A.shape[0], dtype=np.float64)
            for d in range(A.shape[1]):
                acc += A[:, d] * cv[d]
            cs = acc / (sna * snb)
            if best is None:
                best, best_cid = cs, np.full(A.shape[0], cid, dtype=np.int64)
            else:
                m = cs > best
                best = np.where(m, cs, best)
                best_cid = np.where(m, cid, best_cid)
        return pd.Series(best_cid)

    return c.select(id_, vec, *carry, _nearest(F.col(vec)).alias("cid"))


def _nearest_cells_udf(centers: list, n_probe: int):
    """Arrow kernel ranking the LITERAL centroid set per row by
    (cosine DESC, cid ASC) and returning the top-``n_probe`` cids —
    the probe-side half of every IVF consumer (:func:`_ivf_query`,
    :func:`ivf_decontaminate`). Map-only: the corpus never shuffles
    for probing."""
    import numpy as np
    import pandas as pd

    cents = _center_arrays(centers)

    @F.pandas_udf("array<long>")
    def _probe(av: pd.Series) -> pd.Series:
        A = _np_stack(av)
        sna = np.sqrt(_np_fold_dot(A, A))
        cos_rows = []
        cids = [cid for cid, _, _ in cents]
        for _, cv, snb in cents:
            acc = np.zeros(A.shape[0], dtype=np.float64)
            for d in range(A.shape[1]):
                acc += A[:, d] * cv[d]
            cos_rows.append(acc / (sna * snb))
        M = np.vstack(cos_rows) if cos_rows else np.zeros((0, A.shape[0]))
        out = []
        for i in range(A.shape[0]):
            order = sorted(range(len(cids)), key=lambda j: (-M[j, i], cids[j]))
            out.append([cids[j] for j in order[:n_probe]])
        return pd.Series(out)

    return _probe


def _ivf_query(
    assign: DataFrame,
    q: DataFrame,
    centers: list,
    n_probe: int,
    k: int,
    carry: tuple = (),
) -> DataFrame:
    """The IVF query tail shared by :func:`ivf_topk` and
    :func:`ivf_add_topk`: probe the ``n_probe`` nearest centroid lists
    per query (map-only Arrow kernel ranking the literal centers by
    (cosine DESC, cid ASC) per row), exact cosine re-rank via a
    broadcast join on cid, per-query top-``k``. ``carry`` names extra
    assignment columns surfaced in the output. The corpus side never
    shuffles: assignment is a projection and the probe join is
    broadcast."""
    dim = len(centers[0][1])
    probes = q.select(
        "query_id",
        "qvec",
        F.explode(_nearest_cells_udf(centers, n_probe)(F.col("qvec"))).alias("cid"),
    )
    scored = (
        assign.join(F.broadcast(probes), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", *carry,
            cosine_expr("qvec", "cvec", dim).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "rank", "neighbor_id", *carry,
            F.round("cosine", 6).alias("cosine"),
        )
    )


def lloyd_step(assign: DataFrame, dim: int, vec: str = "cvec") -> DataFrame:
    """One Lloyd (k-means) refinement: element-wise mean per cluster.

    Sums go through DECIMAL(27,10) so the accumulation is exact and
    associative — partial-aggregation order can't flip result bits, and
    a DuckDB oracle summing the same decimals reproduces the centroids
    bit-for-bit (the single double division afterwards is IEEE-stable).
    Empty clusters drop out, exactly like SQL GROUP BY."""
    sums = assign.groupBy("cid").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.col(vec).getItem(d).cast("double").cast("decimal(27,10)")).alias(f"s{d}")
            for d in range(dim)
        ],
    )
    return sums.select(
        "cid",
        F.array(
            *[(F.col(f"s{d}").cast("double") / F.col("n")) for d in range(dim)]
        ).alias("centvec"),
    )


def maximin_seed(c: DataFrame, n_centroids: int) -> list:
    """Deterministic farthest-point (maximin) centroid seeding.

    First center: the vector with the smallest (md5(id), id) — an
    unbiased "random-like" pick both engines derive identically. Each
    subsequent center is the point FARTHEST from its nearest chosen
    center (cosine distance), i.e. the one minimizing max-cosine to
    the chosen set, ties broken by (md5(id), id). Already-chosen points
    have max-cosine 1.0, so they sort last and never repeat.

    k−1 tiny driver round-trips (one selected row each) coordinate the
    inherently sequential selection — the per-step work itself is a
    distributed scan + broadcast of ≤k centers, the same pattern
    k-means‖ uses for its driver-side reduce. Returns
    ``[(cid, [float...]), ...]``."""
    spark = c.sparkSession
    hashed = c.withColumn("__h", F.md5(F.col("neighbor_id").cast("string")))
    row = hashed.orderBy("__h", "neighbor_id").limit(1).collect()[0]
    centers = [(row["neighbor_id"], [float(x) for x in row["cvec"]])]
    for _ in range(n_centroids - 1):
        cents = F.broadcast(
            spark.createDataFrame(centers, "cid long, centvec array<double>")
        )
        nxt = (
            hashed.crossJoin(cents)
            .select(
                "neighbor_id", "cvec", "__h", cosine_expr("cvec", "centvec").alias("cs")
            )
            .groupBy("neighbor_id")
            .agg(
                F.max("cs").alias("mx"),
                F.first("__h").alias("__h"),
                F.first("cvec").alias("cvec"),
            )
            .orderBy(F.asc("mx"), F.asc("__h"), F.asc("neighbor_id"))
            .limit(1)
            .collect()[0]
        )
        centers.append((nxt["neighbor_id"], [float(x) for x in nxt["cvec"]]))
    return centers


def _py_cosine(a: list, b: list) -> float:
    """The SAME left-fold double cosine as :func:`cosine_expr` and the
    DuckDB oracle — sequential accumulation, so all three engines
    produce identical bits."""
    import math

    dot = 0.0
    for x, y in zip(a, b):
        dot += x * y
    na = 0.0
    for x in a:
        na += x * x
    nb = 0.0
    for y in b:
        nb += y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def oversample_seed(c: DataFrame, n_centroids: int, band_quota: int | None = None) -> list:
    """k-means‖-style deterministic oversampling seeding — the scale
    path for farthest-point init (VERDICT r3 #5): exactly TWO Spark
    actions regardless of k, where :func:`maximin_seed` coordinates
    k−1 sequential full-corpus scans.

      1. First center: the vector with the smallest (md5(id), id) —
         the same unbiased engine-stable pick maximin uses.
      2. One corpus pass scores every point's cosine to that center;
         points stratify into distance bands ``floor((1 − cs)·8)``
         (one IEEE multiply + floor — engine-stable) and the first
         ``band_quota`` (default ``n_centroids``) rows per band by
         (md5(id), id) come back to the driver — ≤ 17·quota candidates
         no matter the corpus size, the deterministic analog of
         k-means‖'s distance-weighted oversampling (banding guarantees
         every distance stratum is represented, which a global top-L
         by distance would not).

    The farthest-point chain then runs driver-side over the tiny
    candidate set using the same left-fold double cosine as
    :func:`cosine_expr`, so a DuckDB oracle replays the trajectory
    bit-for-bit (ties by (max-cosine, md5, id), chosen points sort
    last exactly as in maximin). Returns ``[(cid, [float...]), ...]``.
    """
    spark = c.sparkSession
    quota = n_centroids if band_quota is None else band_quota
    hashed = c.withColumn("__h", F.md5(F.col("neighbor_id").cast("string")))
    head = hashed.orderBy("__h", "neighbor_id").limit(1).collect()
    if not head:
        raise ValueError("oversample_seed: empty corpus")
    row = head[0]
    first = (row["neighbor_id"], [float(x) for x in row["cvec"]])
    wb = Window.partitionBy("band").orderBy("__h", "neighbor_id")
    cand_rows = (
        hashed
        .select("neighbor_id", "cvec", "__h", _cosine_lit("cvec", first[1]).alias("cs"))
        .withColumn("band", F.expr("CAST(FLOOR((1.0 - cs) * 8.0) AS BIGINT)"))
        .withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") <= quota)
        .select("neighbor_id", "cvec", "__h")
        .collect()
    )
    cands = [
        (r["neighbor_id"], r["__h"], [float(x) for x in r["cvec"]]) for r in cand_rows
    ]
    centers = [first]
    centvecs = [first[1]]
    for _ in range(n_centroids - 1):
        best = None
        for cid, h, vec in cands:
            mx = max(_py_cosine(vec, cv) for cv in centvecs)
            key = (mx, h, cid)
            if best is None or key < best[0]:
                best = (key, cid, vec)
        centers.append((best[1], best[2]))
        centvecs.append(best[2])
    return centers


# Corpora at or under this row count train entirely driver-side (one
# collect, then in-process seed + Lloyd replicating the distributed
# trajectory bit for bit) — the FAISS shape, where `train` runs on a
# bounded sample on one node and only `add`/`search` distribute. Above
# the cap the distributed path runs: one map-only assignment pass +
# one k-row aggregation per Lloyd iteration.
TRAIN_DRIVER_CAP = 200_000


def _py_md5_key(i) -> str:
    """md5(CAST(id AS STRING)) exactly as Spark/DuckDB compute it."""
    import hashlib

    return hashlib.md5(str(int(i)).encode()).hexdigest()


def _driver_seed_oversample_np(
    ids: list, A, n_centroids: int, band_quota: int | None
) -> list:
    """Driver-side replay of :func:`oversample_seed` over an (ids,
    row-matrix) corpus: same md5 first pick, same ``floor((1−cs)·8)``
    banding with per-band (md5, id) quotas, same farthest-point chain.
    The banding cosine runs as the vectorized :func:`_np_fold_dot`
    kernel — the identical IEEE left-fold :func:`_py_cosine` performs
    per row (round 7: the per-row Python cosine loop was the seed's
    cost at the 200k driver cap). Band contents, the per-band sort and
    the farthest-point argmin are all order-independent, so the result
    does not depend on collect order."""
    import numpy as np

    quota = n_centroids if band_quota is None else band_quota
    if len(ids) == 0:
        raise ValueError("oversample_seed: empty corpus")
    # A zero-norm vector has no cosine: its NaN band would otherwise
    # key the band dict PER OBJECT (NaN != NaN, Python id-based dict
    # fallback), silently diverging from the distributed grouping —
    # fail loudly like the per-row path used to (ADVICE r7 #3).
    norms = (np.asarray(A, dtype=np.float64) ** 2).sum(axis=1)
    if not norms.all():
        bad = [ids[j] for j in np.flatnonzero(norms == 0.0)[:5]]
        raise ValueError(
            f"oversample_seed: zero-norm embedding(s), cosine undefined: ids {bad}"
        )
    hs = [_py_md5_key(i) for i in ids]
    first_idx = min(range(len(ids)), key=lambda j: (hs[j], ids[j]))
    first_vec = [float(x) for x in A[first_idx]]
    cs = _np_cosine(A, np.broadcast_to(A[first_idx], A.shape))
    bands = np.floor((1.0 - cs) * 8.0)
    by_band: dict = {}
    for j in range(len(ids)):
        by_band.setdefault(float(bands[j]), []).append((hs[j], ids[j], j))
    cands = []
    for band in by_band:
        for h, i, j in sorted(by_band[band])[:quota]:
            cands.append((i, h, [float(x) for x in A[j]]))
    centers = [(ids[first_idx], first_vec)]
    centvecs = [first_vec]
    for _ in range(n_centroids - 1):
        best = None
        for cid, h, vec in cands:
            mx = max(_py_cosine(vec, cv) for cv in centvecs)
            key = (mx, h, cid)
            if best is None or key < best[0]:
                best = (key, cid, vec)
        centers.append((best[1], best[2]))
        centvecs.append(best[2])
    return centers


def _driver_seed_oversample(rows: list, n_centroids: int, band_quota: int | None) -> list:
    """List-of-(id, vec) wrapper over :func:`_driver_seed_oversample_np`."""
    import numpy as np

    ids = [i for i, _ in rows]
    A = np.asarray([[float(x) for x in v] for _, v in rows], dtype=np.float64)
    return _driver_seed_oversample_np(ids, A, n_centroids, band_quota)


def _quantize_repr_grid(A):
    """Vectorized exact equivalent of per-element
    ``Decimal(repr(x)).quantize(1e-10, HALF_UP)`` on the 1e10-scaled
    int64 grid (VERDICT r6 #2 — the per-element Decimal loop was 1.3 M
    quantize calls per Lloyd step at 20k×64 and the traced constant in
    q152's 10× scale point).

    Fast path: ``floor(x·1e10 + 0.5)`` — one IEEE multiply/add/floor,
    which equals round-half-up of the SHORTEST-REPR decimal value for
    every element that is not within floating-point error of a grid
    half-boundary. The three error sources (the multiply's rounding,
    repr(x)'s ≤0.5-ulp round-trip offset, the add's rounding) are each
    ≤ |y|·2⁻⁵³, so elements with ``y + 0.5`` within
    ``8·|y|·2⁻⁵³ + 1e-12`` of an integer — including exact decimal
    ties, where floor(y+0.5) and HALF_UP genuinely disagree for
    negative values — are recomputed through the Decimal path. The
    tolerance over-covers: a false positive costs one scalar Decimal
    call, never a wrong bit (``test_quantize_grid_matches_decimal``
    pins element-identity on adversarial boundary values).

    Returns an int64 array of scaled values, or ``None`` when any
    element is too large for the exact-float integer range (caller
    falls back to the full Decimal loop)."""
    import numpy as np

    y = A * 1e10
    if not np.all(np.isfinite(y)) or np.abs(y).max(initial=0.0) >= 2.0**52:
        return None
    shifted = y + 0.5
    z = np.floor(shifted)
    tol = 8.0 * np.abs(y) * 2.0**-53 + 1e-12
    risky = np.abs(shifted - np.rint(shifted)) <= tol
    if risky.any():
        from decimal import ROUND_HALF_UP, Decimal

        qexp = Decimal(1).scaleb(-10)
        av = A.ravel()
        zv = z.ravel()
        for i in np.flatnonzero(risky.ravel()):
            zv[i] = float(
                int(
                    Decimal(repr(float(av[i])))
                    .quantize(qexp, rounding=ROUND_HALF_UP)
                    .scaleb(10)
                )
            )
        z = zv.reshape(A.shape)
    return z.astype(np.int64)


def _driver_lloyd_step(rows: list, centers: list) -> list:
    """List-of-(id, vec) wrapper over :func:`_driver_lloyd_step_np`."""
    import numpy as np

    A = np.asarray([[float(x) for x in v] for _, v in rows], dtype=np.float64)
    return _driver_lloyd_step_np(A, centers)


def _driver_lloyd_step_np(A, centers: list) -> list:
    """Driver-side replay of one distributed Lloyd iteration over the
    (n, dim) row matrix ``A``:
    nearest-center assignment (cosine desc, cid asc — strict-> update
    over ascending cid, exactly :func:`_assign_nearest`), then
    per-cluster means through the SAME exact decimal arithmetic
    :func:`lloyd_step` runs: each element quantizes as Spark's
    ``CAST(double AS DECIMAL(27,10))`` — the JVM cast stringifies via
    ``Double.toString`` (shortest repr) then rounds HALF_UP, so the
    identical Python function is ``Decimal(repr(x)).quantize`` (NOT
    ``Decimal(x)``, which sees the exact binary value and can round
    the other way on shortest-repr half-boundary values) — decimal
    sums are exact, and the final
    ``CAST(dec AS DOUBLE)/n`` is one correctly-rounded conversion plus
    one IEEE division in both engines."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    dim = len(centers[0][1])
    qexp = Decimal(1).scaleb(-10)
    # assignment: the SAME numpy batch kernel _assign_nearest runs
    # executor-side (per-dim left-fold dots via _np_fold_dot's order,
    # strict > update over ascending cid) — bit-identical to the
    # per-row _py_cosine loop it replaces and ~4× faster per Lloyd
    # step on a 20k×64 corpus (the pure-Python cosine loop dominated
    # the driver-train path: q152's 10× scale point traced to it)
    sna = np.sqrt(_np_fold_dot(A, A))
    best = None
    best_cid = None
    for cid, cv, snb in _center_arrays(centers):
        acc = np.zeros(A.shape[0], dtype=np.float64)
        for d in range(A.shape[1]):
            acc += A[:, d] * cv[d]
        cs = acc / (sna * snb)
        if best is None:
            best, best_cid = cs, np.full(A.shape[0], cid, dtype=np.int64)
        else:
            m = cs > best
            best = np.where(m, cs, best)
            best_cid = np.where(m, cid, best_cid)
    # means: sum the quantized grid values exactly. The vectorized
    # path (one numpy pass + k·dim int64 sums) is element-identical to
    # the Decimal loop by _quantize_repr_grid's contract; the loop
    # remains as the any-magnitude fallback (values beyond the exact
    # float-int range, or cluster sums that could overflow int64).
    scaled = _quantize_repr_grid(A)
    if scaled is not None:
        max_abs = int(np.abs(scaled).max(initial=0))
        if max_abs * A.shape[0] < 2**62:
            out = []
            for cid in sorted(int(x) for x in np.unique(best_cid)):
                m = best_cid == cid
                n = int(m.sum())
                tot = scaled[m].sum(axis=0, dtype=np.int64)
                # Decimal(T)·1e-10 is the exact cluster sum; float() is
                # the same correctly-rounded conversion float(a) was
                out.append(
                    (cid, [float(Decimal(int(t)).scaleb(-10)) / n for t in tot])
                )
            return out
    sums: dict = {}
    for idx in range(A.shape[0]):
        v = A[idx]
        n, acc = sums.setdefault(int(best_cid[idx]), [0, [Decimal(0)] * dim])
        sums[int(best_cid[idx])][0] = n + 1
        for d in range(dim):
            # Decimal(repr(x)) = the shortest decimal repr = the value
            # Spark's CAST(double AS DECIMAL) actually rounds (the JVM
            # stringifies via Double.toString first); Decimal(x) would
            # quantize the exact binary value, which differs on
            # shortest-repr half-boundary values (see
            # test_decimal_cast_boundaries).
            acc[d] += Decimal(repr(float(v[d]))).quantize(
                qexp, rounding=ROUND_HALF_UP
            )
    out = []
    for cid in sorted(sums):
        n, acc = sums[cid]
        out.append((cid, [float(a) / n for a in acc]))
    return out


def ivf_train_centers(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    lloyd_iters: int = 2,
    dim: int = 64,
    seed: str = "oversample",
) -> list:
    """Train the IVF centroid set (deterministic seed + bit-reproducible
    Lloyd refinement) and return the driver-side
    ``[(cid, [float...]), ...]`` list — the form every internal consumer
    (:func:`ivf_topk`, :func:`ivf_add_topk`, :func:`ivf_delete_topk`,
    :func:`semantic_dedup`) actually wants; :func:`ivf_train_centroids`
    wraps it as a broadcast-hinted DataFrame for callers that persist
    the centroid set. (Round 7: the previous shape round-tripped the
    list through createDataFrame + collect on every call — pure
    scheduling overhead traced in the q152 scale curve.)

    Execution strategy (values are identical either way): corpora at or
    under ``TRAIN_DRIVER_CAP`` rows land driver-side via ONE
    Arrow-batched ``toPandas`` (not a py4j row collect) and the whole
    seed + Lloyd trajectory runs in-process on numpy arrays (the FAISS
    ``train`` shape — a distributed job per iteration on a
    broadcast-sized problem is pure scheduling overhead); larger
    corpora run the distributed form (map-only assignment + k-row
    aggregation per iteration). The trajectory is the same bit-for-bit
    — same md5 picks, same IEEE folds, same HALF_UP decimal means
    (``test_driver_and_distributed_centroids_are_bit_identical``) — so
    the DuckDB oracle replays either path."""
    import numpy as np

    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    if seed == "oversample":
        pdf = c.limit(TRAIN_DRIVER_CAP + 1).toPandas()
        if len(pdf) <= TRAIN_DRIVER_CAP:
            if len(pdf) == 0:
                # before np.stack, which would raise a generic numpy
                # error instead of the domain one
                raise ValueError("oversample_seed: empty corpus")
            ids = [int(i) for i in pdf["neighbor_id"]]
            # float32 → float64 widening is exact — the same value the
            # py4j row path produced via float(x)
            A = np.stack(pdf["cvec"].to_numpy()).astype(np.float64, copy=False)
            centers = _driver_seed_oversample_np(ids, A, n_centroids, None)
            for _ in range(lloyd_iters):
                centers = _driver_lloyd_step_np(A, centers)
            return centers
        centers = oversample_seed(c, n_centroids)
    elif seed == "maximin":
        centers = maximin_seed(c, n_centroids)
    else:
        centers = [
            (int(r["cid"]), [float(x) for x in r["centvec"]])
            for r in corpus.orderBy(id_col)
            .limit(n_centroids)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("centvec"))
            .collect()
        ]
    # Materialize each refined centroid set (k tiny rows) to the driver
    # and feed the next step LITERAL centers: a lazy chain would
    # re-evaluate the whole training prefix (each iteration itself a
    # full-corpus scan) in every downstream consumer. Python float
    # round-trips are bit-exact for doubles (float32 cells widen
    # exactly), so the trajectory the DuckDB oracle replays is
    # unchanged.
    for _ in range(lloyd_iters):
        rows = lloyd_step(_assign_nearest(c, centers), dim).collect()
        centers = [(int(r["cid"]), [float(x) for x in r["centvec"]]) for r in rows]
    return centers


def ivf_train_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    lloyd_iters: int = 2,
    dim: int = 64,
    seed: str = "oversample",
) -> DataFrame:
    """DataFrame form of :func:`ivf_train_centers` — a broadcast-hinted
    (cid, centvec) frame for callers that persist or join the centroid
    set."""
    return F.broadcast(
        corpus.sparkSession.createDataFrame(
            ivf_train_centers(
                corpus, id_col, vec_col, n_centroids, lloyd_iters, dim, seed
            ),
            "cid long, centvec array<double>",
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    lloyd_iters: int = 2,
    dim: int = 64,
    seed: str = "oversample",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the second ANN family
    next to random-hyperplane LSH.

    Centroids start from a deterministic seed — ``seed="oversample"``
    (default) is k-means‖-style banded oversampling + driver-side
    farthest-point over the candidate set (:func:`oversample_seed`,
    two Spark actions at any k — the 100 TB path);
    ``seed="maximin"`` is exact farthest-point init
    (:func:`maximin_seed`, k−1 sequential corpus scans — kept for
    comparison and for callers who want the textbook trajectory);
    ``seed="first"`` is the round-1 first-``n_centroids``-by-id pick
    (kept for comparison: on clustered data it degenerately lands all
    seeds in one cluster — tests/test_ivf_lloyd.py measures the recall
    gap). The seed is refined by ``lloyd_iters`` Lloyd iterations —
    assignment and decimal-exact cluster means in plain DataFrame ops,
    so both engines reproduce the k-means trajectory bit-for-bit (no
    RNG, no float-order sensitivity; see :func:`lloyd_step`). Every
    corpus vector is assigned to its nearest refined centroid (cosine,
    ties to the smallest centroid id); a query probes its ``n_probe``
    nearest centroid lists and exact-re-ranks only those candidates.
    At scale the centroid set stays broadcast-sized and the corpus
    shuffles once per iteration on its assignment — the inverted lists
    are just a partitioning."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    centers = ivf_train_centers(
        corpus, id_col, vec_col, n_centroids, lloyd_iters, dim, seed
    )
    assign = _assign_nearest(c, centers)
    return _ivf_query(assign, q, centers, n_probe, k)


def ivf_add_topk(
    base: DataFrame,
    new: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    lloyd_iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """IVF index MAINTENANCE: absorb a new vector batch into an
    existing index WITHOUT retraining (the FAISS ``add`` pattern —
    centroids are trained once on the base corpus and frozen; new
    vectors are assigned to their nearest frozen centroid and appended
    to its inverted list). Queries then probe ``n_probe`` cells of the
    MERGED index, so fresh vectors become retrievable immediately —
    the index-maintenance member of the triad next to q70's exact-hash
    index probing and q151's streaming LSH ledger.

    Returns per-query top-k over base ∪ new with an ``origin`` tag
    ('base' / 'new') so callers can see the new batch entering results.

    Ids appearing in BOTH inputs are UPSERTS: the base row is
    anti-joined away and the new batch's vector wins (the FAISS
    remove+add shape) — nothing is silently dropped by the assignment.

    Scale shape (100 TB): this demo function recomputes the base
    assignment so the whole result is one oracle-checkable expression;
    in the production deployment of this pattern the base assignment
    is PERSISTED (it is this function's ``assign`` intermediate — a
    parquet table keyed by cid), and the per-batch increment is then
    only the new batch's narrow assignment against the broadcast
    centroids plus an id anti-join for upserts. Training always
    touches only the base, once. The query path is identical either
    way: probe lists are a partitioning of the merged corpus on the
    uniform cid key.
    """
    new_c = new.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.lit("new").alias("origin"),
    )
    base_c = (
        base.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            F.lit("base").alias("origin"),
        )
        # upsert semantics: a re-shipped id keeps only the NEW vector
        .join(new_c.select("neighbor_id"), "neighbor_id", "left_anti")
    )
    centers = ivf_train_centers(base, id_col, vec_col, n_centroids, lloyd_iters, dim)
    assign = _assign_nearest(base_c.unionByName(new_c), centers, carry=("origin",))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    return _ivf_query(assign, q, centers, n_probe, k, carry=("origin",))


def ivf_delete_topk(
    base: DataFrame,
    deleted: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    lloyd_iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """IVF index MAINTENANCE, delete side (the FAISS ``remove_ids``
    pattern, completing the triad with :func:`ivf_add_topk`):
    centroids stay FROZEN (trained on the full base — deletion never
    retrains), the tombstoned ids are anti-joined out of the inverted
    lists, and queries probe ``n_probe`` cells of the SHRUNK index, so
    removed vectors stop being retrievable immediately.

    Returns per-query top-k over the live corpus with each neighbor's
    ``cell`` (inverted-list id) surfaced — the occupancy view an index
    operator watches as deletes accumulate.

    Scale shape: the tombstone set is broadcast (delete batches are
    tiny next to the corpus) into one anti-join; assignment is the
    map-only Arrow kernel against driver-literal centroids; the probe
    join is broadcast. In production the base assignment is persisted
    and the delete is a metadata anti-join against the tombstone
    ledger — the query path here is identical."""
    c = base.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    centers = ivf_train_centers(base, id_col, vec_col, n_centroids, lloyd_iters, dim)
    live = c.join(
        F.broadcast(deleted.select(F.col(id_col).alias("neighbor_id"))),
        "neighbor_id",
        "left_anti",
    )
    assign = _assign_nearest(live, centers).withColumn("cell", F.col("cid"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    return _ivf_query(assign, q, centers, n_probe, k, carry=("cell",))


# Hot-cell guard bounds for semantic_dedup — the k-means analogue of
# dedup.DEFAULT_BAND_CAP: no refined cell with more members than this
# ever enters the within-cell pair join, so one dense embedding mode
# (a near-dup-heavy crawl collapsing into one cell at fixed
# n_centroids) can never make the scan quadratic in the corpus.
DEFAULT_CELL_CAP = 4096
# md5-plane ids used to LSH-split oversized cells; offset 200 keeps
# them disjoint from the bucketing planes (0..11) and the JL basis
# (100..107), so the split is independent of every other projection.
SPLIT_PLANE_OFFSET = 200


def _cell_split_bits(vec_col: str, split_planes: int, dim: int) -> Column:
    """Sub-cell key bits for splitting an oversized k-means cell:
    :func:`lsh_bucket_key` at ``SPLIT_PLANE_OFFSET`` — one copy of the
    sign-bit construction, so the DuckDB oracle replays it exactly."""
    return lsh_bucket_key(vec_col, split_planes, dim, offset=SPLIT_PLANE_OFFSET)


def _semantic_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    lloyd_iters: int,
    dim: int,
    cell_cap: int,
    split_planes: int,
) -> tuple:
    """Shared front half of :func:`semantic_dedup` /
    :func:`semantic_dedup_cell_stats` / :func:`ivf_decontaminate`:
    k-means assignment plus the hot-cell refinement. Returns
    ``(assign, refined, centers)`` where ``assign`` is (neighbor_id,
    cvec, cid) with the lineage cut (it feeds the size histogram, the
    pair join, and the final labeling), ``refined`` adds ``__cn``
    (cell size), ``rkey`` (the pair-join key: cid·2^p, plus LSH sign
    bits when the cell is over the cap) and ``__rn`` (refined-cell
    size), and ``centers`` is the trained driver-side centroid list
    (broadcast-sized) for consumers that rank cells per probe."""
    from .staging import materialize

    c = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    centers = ivf_train_centers(df, id_col, vec_col, n_centroids, lloyd_iters, dim)
    assign = materialize(
        _assign_nearest(c, centers),
        label="semantic_dedup_assign",
        default="parquet",
    )
    sizes = assign.groupBy("cid").agg(F.count("*").alias("__cn"))
    mult = 1 << split_planes
    refined = assign.join(F.broadcast(sizes), "cid").withColumn(
        "rkey",
        F.when(
            F.col("__cn") > cell_cap,
            F.col("cid") * mult + _cell_split_bits("cvec", split_planes, dim),
        ).otherwise(F.col("cid") * mult),
    )
    rsizes = refined.groupBy("rkey").agg(F.count("*").alias("__rn"))
    return assign, refined.join(F.broadcast(rsizes), "rkey"), centers


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    n_centroids: int = 8,
    lloyd_iters: int = 2,
    dim: int = 64,
    cell_cap: int = DEFAULT_CELL_CAP,
    split_planes: int = 4,
    cells: tuple | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): the
    corpus is k-means-clustered in embedding space (oversampling seed +
    Lloyd, same deterministic trajectory as q45's IVF), near-duplicate
    pairs are discovered ONLY within clusters (cosine ≥ ``threshold``),
    folded into duplicate components (min-label propagation), and one
    keeper per component is selected (min id).

    Returns (vec_id, cid, component_id, n_dups, is_keeper) for every
    vector — singleton vectors are their own keeper with n_dups 1.

    Scale shape: the quadratic near-dup scan is bounded per cluster —
    and, unlike the fixed-``n_centroids`` contract alone, HARD-bounded
    by the hot-cell guard (VERDICT r6 #1): a cell with more than
    ``cell_cap`` members is LSH-split into 2^``split_planes``
    sub-cells (deterministic md5 hyperplane sign bits, disjoint plane
    ids from every other projection), and any sub-cell STILL over the
    cap is dropped from pair generation — the
    :data:`..dedup.DEFAULT_BAND_CAP` policy: a pathological dense mode
    (e.g. exact duplicates, which no projection can separate) degrades
    to dropped candidates, never to an all-pairs join; exact dedup is
    the upstream answer to those. Members of dropped cells stay in the
    output as singletons; :func:`semantic_dedup_cell_stats` surfaces
    the per-cell split/dropped accounting. Centroids stay
    broadcast-sized; components propagate over the sliver-sized edge
    set only. Fully deterministic (md5 seeding, decimal-exact means),
    so the DuckDB oracle replays the identical trajectory, guard
    included."""
    from .dedup import connected_components

    # ``cells`` lets a caller that ALSO needs the accounting view
    # (q93's composite runs both this and semantic_dedup_cell_stats)
    # train once and share the (assign, refined) pair instead of
    # re-running seeding + Lloyd + assignment per consumer (ADVICE
    # r7 #4) — the trajectory is deterministic, so sharing is purely
    # a cost optimization, never a value change.
    assign, refined = (cells if cells is not None else _semantic_cells(
        df, id_col, vec_col, n_centroids, lloyd_iters, dim, cell_cap, split_planes
    ))[:2]
    live = refined.where(F.col("__rn") <= cell_cap).select(
        "neighbor_id", "cvec", "rkey"
    )
    a = live.select(F.col("neighbor_id").alias("id_a"), F.col("cvec").alias("va"), "rkey")
    b = live.select(F.col("neighbor_id").alias("id_b"), F.col("cvec").alias("vb"), "rkey")
    pairs = (
        a.join(b, "rkey")
        .where(F.col("id_a") < F.col("id_b"))
        .where(cosine_expr("va", "vb", dim) >= threshold)
        .select("id_a", "id_b")
    )
    comp = connected_components(pairs, "id_a", "id_b").withColumnRenamed("id", "vec_id")
    out = (
        assign.select(F.col("neighbor_id").alias("vec_id"), "cid")
        .join(comp, "vec_id", "left")
        .withColumn("component_id", F.coalesce("component_id", F.col("vec_id")))
    )
    sizes = out.groupBy("component_id").agg(F.count("*").alias("n_dups"))
    return out.join(sizes, "component_id").select(
        "vec_id",
        "cid",
        "component_id",
        "n_dups",
        (F.col("vec_id") == F.col("component_id")).alias("is_keeper"),
    )


def semantic_dedup_cell_stats(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    lloyd_iters: int = 2,
    dim: int = 64,
    cell_cap: int = DEFAULT_CELL_CAP,
    split_planes: int = 4,
    cells: tuple | None = None,
) -> DataFrame:
    """The hot-cell guard's accounting view: one row per refined cell
    with (cid, rkey, n_cell, n_refined, was_split, participates) —
    ``was_split`` marks cells over the cap that were LSH-split,
    ``participates`` is False for refined cells STILL over the cap
    (their members generate no candidate pairs). An operator running
    semantic dedup at scale watches ``participates = FALSE`` rows the
    way the LSH path watches dropped bands: a persistent dropped cell
    means n_centroids (or the cap) needs raising, or exact dedup
    should run first."""
    refined = (cells if cells is not None else _semantic_cells(
        df, id_col, vec_col, n_centroids, lloyd_iters, dim, cell_cap, split_planes
    ))[1]
    return (
        refined.groupBy("cid", "rkey")
        .agg(F.max("__cn").alias("n_cell"), F.max("__rn").alias("n_refined"))
        .select(
            "cid",
            "rkey",
            "n_cell",
            "n_refined",
            (F.col("n_cell") > cell_cap).alias("was_split"),
            (F.col("n_refined") <= cell_cap).alias("participates"),
        )
    )


def embedding_decontaminate(
    df: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "pvec",
    threshold: float = 0.28,
    dim: int | None = 64,
    probes_from_corpus: bool = True,
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic-leakage
    check that n-gram decontamination (q65/q69) misses: a training
    document paraphrasing a benchmark item shares no long exact gram
    but sits next to it in embedding space. Flags every corpus vector
    whose cosine to ANY probe (benchmark embedding) reaches
    ``threshold``; per vector the hit count, the best-matching probe
    (ties by min probe id) and its cosine.

    Returns ``(id, n_probe_hits, top_probe_id, top_probe_cos,
    is_contaminated)`` for EVERY corpus vector (vectors with no scored
    probe partner — possible only when the probe set is a subset of
    the corpus and the vector is the sole probe — carry 0/NULL/NULL/
    false).

    ``probes_from_corpus`` (default True) declares that probe ids
    share the corpus id space, so a probe never scores the corpus row
    it was drawn from (self-pair exclusion by id equality). When the
    probe set is an EXTERNAL benchmark with its own id space, pass
    False — otherwise a numeric id collision across the two spaces
    would silently skip a real corpus↔probe pair, a false-negative
    leak in a decontamination operator.

    Scale shape (100 TB): the probe set is benchmark-sized (thousands)
    → broadcast, exactly like q174's audit anchors; the scan is a
    map-only broadcast nested loop over the corpus with the Arrow
    numpy cosine kernel (bit-identical to the SQL fold the oracle
    replays), then ONE aggregation keyed on the corpus id — uniform,
    map-side combining. No corpus shuffle, no quadratic term: cost is
    corpus × |probes|, the same contract as brute-force scoring
    against a fixed query set."""
    c = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    p = probes.select(
        F.col(probe_id_col).alias("__pid"), F.col(probe_vec_col).alias("__pv")
    )
    pair_cond = (
        F.col("__id") != F.col("__pid") if probes_from_corpus else F.lit(True)
    )
    scored = (
        c.join(F.broadcast(p), pair_cond)
        .withColumn("__cos", cosine_expr("__v", "__pv", dim))
    )
    agg = scored.groupBy("__id").agg(
        F.sum(F.when(F.col("__cos") >= threshold, 1).otherwise(0))
        .cast("long")
        .alias("n_probe_hits"),
        F.max(F.struct(F.col("__cos"), (-F.col("__pid")).alias("__np"))).alias("__t"),
    )
    return (
        c.select("__id")
        .join(agg, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_probe_hits", F.lit(0).cast("long")).alias("n_probe_hits"),
            (-F.col("__t.__np")).cast("long").alias("top_probe_id"),
            F.col("__t.__cos").alias("top_probe_cos"),
            (F.coalesce("n_probe_hits", F.lit(0)) > 0).alias("is_contaminated"),
        )
    )


def ivf_decontaminate(
    df: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "pvec",
    threshold: float = 0.28,
    n_centroids: int = 8,
    n_probe: int = 2,
    lloyd_iters: int = 2,
    dim: int = 64,
    cells: tuple | None = None,
    probes_from_corpus: bool = True,
) -> DataFrame:
    """IVF-pruned embedding decontamination — the scale path next to
    :func:`embedding_decontaminate`'s brute scan: at 100 TB the exact
    pass costs |corpus|·|probes| cosines (10¹³ at 10⁹ docs × 10⁴
    benchmark items), while this variant scores a corpus vector only
    against probes whose ``n_probe`` nearest k-means cells include the
    vector's cell — the q45 IVF contract applied to decontamination.
    Recall is approximate BY DESIGN (a leak sitting across a cell
    boundary from its probe can be missed); run both on a sample and
    compare (the q93 composite joins this verdict with the exact one,
    so the missed set is a column diff), and raise ``n_probe`` /
    retrain k to close the gap — the same knobs as ANN search.

    Returns ``(id, ivf_probe_hits, ivf_top_probe_id, ivf_top_probe_cos,
    ivf_contaminated)`` for EVERY corpus vector (vectors whose cell no
    probe reaches carry 0/NULL/NULL/false). Best probe ties break to
    the min probe id, exactly like the brute pass. ``probes_from_corpus``
    carries the same contract as :func:`embedding_decontaminate`: the
    id-equality self-pair exclusion applies only when probe ids share
    the corpus id space; pass False for an external benchmark id
    space so an accidental numeric collision can't hide a real leak.

    Scale shape: training + corpus assignment come from the SHARED
    :func:`_semantic_cells` pass when ``cells`` is given (the q93
    composite trains ONCE for dedup + stats + this), probes rank the
    broadcast centroid list in a map-only Arrow kernel, and the
    candidate join is corpus-assignment ⨝ broadcast probe-cells on
    cid — the corpus never shuffles for scoring; the per-vector
    aggregation is the only corpus-keyed exchange."""
    c = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    if cells is not None:
        assign, _, centers = cells
    else:
        centers = ivf_train_centers(df, id_col, vec_col, n_centroids, lloyd_iters, dim)
        assign = _assign_nearest(
            df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")),
            centers,
        )
    p = probes.select(
        F.col(probe_id_col).alias("__pid"), F.col(probe_vec_col).alias("__pv")
    )
    probe_cells = p.select(
        "__pid",
        "__pv",
        F.explode(_nearest_cells_udf(centers, n_probe)(F.col("__pv"))).alias("cid"),
    )
    # a corpus vector lives in exactly ONE cell and the probe's cell
    # list is distinct, so each (vector, probe) candidate appears at
    # most once — no pair dedup needed
    candidates = assign.join(F.broadcast(probe_cells), "cid")
    if probes_from_corpus:
        candidates = candidates.where(F.col("neighbor_id") != F.col("__pid"))
    scored = (
        candidates
        .select(
            F.col("neighbor_id").alias("__id"),
            "__pid",
            cosine_expr("cvec", "__pv", dim).alias("__cos"),
        )
    )
    agg = scored.groupBy("__id").agg(
        F.sum(F.when(F.col("__cos") >= threshold, 1).otherwise(0))
        .cast("long")
        .alias("ivf_probe_hits"),
        F.max(F.struct(F.col("__cos"), (-F.col("__pid")).alias("__np"))).alias("__t"),
    )
    return (
        c.select("__id")
        .join(agg, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("ivf_probe_hits", F.lit(0).cast("long")).alias(
                "ivf_probe_hits"
            ),
            (-F.col("__t.__np")).cast("long").alias("ivf_top_probe_id"),
            F.col("__t.__cos").alias("ivf_top_probe_cos"),
            (F.coalesce("ivf_probe_hits", F.lit(0)) > 0).alias("ivf_contaminated"),
        )
    )


def quantize_embeddings(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column —
    the 4× storage/bandwidth cut a 100 TB embedding store takes before
    ANN indexing (float32 → int8 + one float scale per vector).

    scale = max|x| / 127; q_i = clamp(floor(x_i/scale + 0.5), ±127).
    ``floor(x + 0.5)`` is the quantizer by definition here rather than
    ``round`` because round's half-even/half-away tie handling is
    engine-specific, while floor on doubles is exact everywhere — the
    whole pipeline stays a deterministic function of the input.

    Entirely JVM higher-order expressions over the array column: a
    narrow map, no shuffle, codegen-friendly — runs at scan speed.
    Returns per-vector quantization stats (the quantized array itself
    stays scalar-free for the oracle: qsum/qnorm checksum it)."""
    e = df.select(
        F.col(id_col).alias("vec_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("e"),
    )
    scaled = e.withColumn(
        "scale",
        F.expr("aggregate(e, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(x))) / 127.0"),
    )
    q = scaled.withColumn(
        "q",
        F.expr(
            "CASE WHEN scale = 0.0 THEN transform(e, x -> CAST(0 AS BIGINT)) "
            "ELSE transform(e, x -> greatest(CAST(-127 AS BIGINT), "
            "least(CAST(127 AS BIGINT), CAST(floor(x / scale + 0.5) AS BIGINT)))) END"
        ),
    )
    err = q.withColumn("err", F.expr("zip_with(q, e, (qi, x) -> qi * scale - x)"))
    return err.select(
        "vec_id",
        F.size("e").alias("n_dims"),
        "scale",
        F.expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x)").alias("qsum"),
        F.expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x * x)").alias("qnorm"),
        F.expr("aggregate(err, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))").alias(
            "max_abs_err"
        ),
        F.expr("aggregate(err, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x) / size(err)").alias(
            "mse"
        ),
    )


def lsh_bucket_key_band(vec_col: str, band: int, n_planes: int, dim: int) -> Column:
    """Bucket key for OR-amplification band ``band``: the band's planes
    are the absolute plane indices [band·n_planes, (band+1)·n_planes),
    so every band draws independent hyperplanes from the same md5
    stream and no plane is shared across bands."""
    bits = [
        f"(CASE WHEN ({_hyperplane_expr(vec_col, band * n_planes + i, dim)}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    ]
    return F.expr(" + ".join(bits))


def knn_graph(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int = 6,
    n_bands: int = 2,
    dim: int = 64,
) -> DataFrame:
    """k-nearest-neighbor graph over the whole corpus — every vector's
    top-k cosine neighbors among its LSH-bucket candidates. The graph
    primitive under graph-based dedup, clustering and diversity
    sampling; the all-points sibling of :func:`lsh_bucket_topk` (which
    serves an external query set).

    OR-amplification: ``n_bands`` independent plane-sets each hash the
    corpus into buckets; a pair is a candidate if ANY band agrees —
    recall grows with bands while each band's self-join stays bounded
    by its bucket sizes. Candidates deduplicate on the (src, dst) id
    pair BEFORE vectors re-join, so the exact re-rank scores each pair
    once.

    Scale shape: per band one self-join on the uniform bucket key
    (quadratic only inside a bucket, never corpus-wide), one distinct
    on the directed id pair, two uniform-key joins to re-attach
    vectors, one per-src window for top-k. Corpus order never matters;
    ties break on neighbor id."""
    if k < 1 or n_planes < 1 or n_bands < 1:
        raise ValueError(
            f"knn_graph: k, n_planes, n_bands must be >= 1, got {k}, {n_planes}, {n_bands}"
        )
    for c in (id_col, vec_col):
        if c not in df.columns:
            raise ValueError(f"knn_graph: column {c!r} not in df")

    # ONE projection computes every band's key, posexplode tags rows
    # with (band, bucket), and a single self-join on the compound key
    # replaces the per-band join union: the hyperplane dot products
    # evaluate once per side instead of once per band per side, and
    # the uniform compound key keeps bucket-bounded quadratic work.
    # The (id, band, bucket) projection is STAGED (round 11, VERDICT
    # r10 #4): the self-join consumed it from both sides via exchange
    # reuse — correct, but dependent on the two subplans staying
    # byte-identical through optimizer changes; the explicit cut makes
    # the hyperplane pass single-evaluation by construction. n_bands
    # rows of three narrow ints per corpus row — a sliver of the input
    # by BYTES, not rows (SCALING.md, "Materialization boundaries") →
    # checkpoint default.
    from .staging import materialize

    keys = F.array(
        *[lsh_bucket_key_band(vec_col, band, n_planes, dim) for band in range(n_bands)]
    )
    side = materialize(
        df.select(
            F.col(id_col).alias("id"), F.posexplode(keys).alias("band", "bucket")
        ),
        label="knn_lsh_keys",
        default="checkpoint",
    )
    a = side.select(F.col("id").alias("query_id"), "band", "bucket")
    b = side.select(F.col("id").alias("neighbor_id"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )

    va = df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    vb = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    scored = (
        cand.join(va, "query_id")
        .join(vb, "neighbor_id")
        .select("query_id", "neighbor_id", cosine_expr("qvec", "cvec", dim).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def _sub_l2q_expr(a: str, b: str, scale: str = "1e6") -> Column:
    """Quantized squared-L2 between two (sub)vector columns: the
    left-to-right DOUBLE accumulation (deterministic across engines,
    like :func:`cosine_expr`) then ONE ``floor(x*scale + 0.5)`` integer
    quantization — bit-identical in Spark and DuckDB, so downstream
    SUMs are associative integer arithmetic with no float-order risk."""
    l2 = (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return F.expr(f"CAST(floor(({l2}) * {scale} + 0.5) AS BIGINT)")


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 4,
    ks: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (the FAISS PQ/ADC shape): split each vector into ``m`` subspaces of
    ``dim/m`` dims, encode every corpus vector as ``m`` small codeword
    ids against per-subspace codebooks, then score queries against the
    CODES ONLY — each query builds an (m × ks) lookup table of
    quantized subspace distances and the approximate distance of a
    corpus vector is the integer sum of its m table entries.

    Codebooks are deterministically SAMPLED (the classic baseline to
    k-means training): the ``ks`` vectors with the smallest
    (md5(id), id) donate their subvectors, so both engines derive the
    identical codebook and the whole pipeline is value-hashable.
    Distances are per-subspace quantized to integers (see
    :func:`_sub_l2q_expr`) BEFORE summation, so no float addition order
    can flip a rank; ties break (code ASC) and (neighbor_id ASC).

    ``dim`` must equal the actual embedding length (slices past the
    array end would silently contribute zero distance) and be divisible
    by ``m`` — both validated where cheap.

    Scale shape (100 TB): the codebook is m·ks subvectors — broadcast
    everywhere, collected once via TakeOrdered (no full sort). Encoding
    is a broadcast join + per-(vector, subspace) min(struct) aggregation
    with map-side partial combine (no window sort); the stored index is
    4 small ints per vector — the 16× memory compression that lets a
    100 TB embedding store fit an in-memory scan. ADC joins the tiny
    per-query LUT (broadcast) to the codes and aggregates (query,
    neighbor) integer sums map-side; the corpus vectors themselves are
    never shuffled and never touched at query time.
    """
    if m < 1 or dim % m != 0:
        raise ValueError(f"dim ({dim}) must be a positive multiple of m ({m})")
    if ks < 1 or k < 1:
        raise ValueError(f"ks ({ks}) and k ({k}) must be >= 1")
    spark = corpus.sparkSession
    sub = dim // m
    train = (
        corpus.select(id_col, vec_col)
        .withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h", id_col)
        .limit(ks)
        .collect()
    )
    cb_rows = []
    for cw, r in enumerate(train, start=1):
        vec = [float(x) for x in r[vec_col]]
        for j in range(m):
            cb_rows.append((j, cw, vec[j * sub : (j + 1) * sub]))
    codebook = F.broadcast(
        spark.createDataFrame(cb_rows, "j int, cw int, cvec array<double>")
    )

    # exploded subvectors: (id, j, subvec)
    def subvecs(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.posexplode(
                F.array(
                    *[
                        F.expr(f"slice({vec_col}, {j * sub + 1}, {sub})")
                        for j in range(m)
                    ]
                )
            ).alias("j", "svec"),
        )

    codes = (
        subvecs(corpus, "neighbor_id")
        .join(codebook, "j")
        .select(
            "neighbor_id",
            "j",
            F.struct(
                _sub_l2q_expr("svec", "cvec").alias("d"), F.col("cw").alias("cw")
            ).alias("dc"),
        )
        .groupBy("neighbor_id", "j")
        .agg(F.min("dc").alias("best"))
        .select("neighbor_id", "j", F.col("best.cw").alias("cw"))
    )
    lut = F.broadcast(
        subvecs(queries, "query_id")
        .join(codebook, "j")
        .select(
            "query_id", "j", "cw", _sub_l2q_expr("svec", "cvec").alias("dq")
        )
    )
    adist = (
        codes.join(lut, ["j", "cw"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("dq").alias("adist_q"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist_q"), F.asc("neighbor_id"))
    return (
        adist.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adist_q")
    )


def hard_negatives(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
    anchors_filter: Column | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    each anchor vector, the top-``k`` most-similar vectors with a
    DIFFERENT label — the near-misses a triplet/InfoNCE trainer wants
    as negatives (random negatives are trivially easy; the hard ones
    carry the gradient signal).

    Scale shape: anchors broadcast against the corpus (the anchor set
    per mining round is small relative to a 100 TB corpus); the label
    inequality filters before scoring so same-class pairs never rank;
    per-anchor top-k is one window on the uniform anchor key. For
    corpus-scale anchor sets, swap the broadcast for the LSH/IVF bucket
    joins in this module — the scoring and ranking shape is unchanged.
    """
    anchors = corpus if anchors_filter is None else corpus.where(anchors_filter)
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("avec"),
        F.col(label_col).alias("alabel"),
    )
    c = corpus.select(
        F.col(id_col).alias("negative_id"),
        F.col(vec_col).alias("nvec"),
        F.col(label_col).alias("nlabel"),
    )
    scored = (
        c.crossJoin(F.broadcast(a))
        .where(F.col("nlabel") != F.col("alabel"))
        .select(
            "anchor_id",
            "negative_id",
            cosine_expr("avec", "nvec", dim).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cosine"), F.asc("negative_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("anchor_id", "rank", "negative_id", F.round("cosine", 6).alias("cosine"))
    )

"""Deduplication operators.

Every function is built from Catalyst expressions (md5, higher-order
array functions, joins) so the plan codegens and distributes; the only
shuffles are the ones the algorithm requires (group-by content hash,
LSH bucket join). Hash-function choice (md5 prefixes) is deliberately
SQL-portable so each operator has an exact DuckDB oracle.

Scale notes (100 TB):
- exact dedup shuffles once on a 128-bit content hash — uniform keys,
  no skew.
- MinHash LSH: signature computation is a narrow map; the candidate
  join shuffles on (band index ++ band key) — band keys are uniform by
  construction. Pair verification only touches candidates.
- SimHash uses explode + two grouped aggregations (vote then pack) —
  pure shuffle-based, no per-row Python, no O(n²) stage.
- n-gram Jaccard is O(n²) by nature: gate it behind a prefilter and use
  it as the VERIFY stage after LSH, never as the discovery stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .staging import materialize, release, spread_small_input

__all__ = [
    "content_hash",
    "exact_dup_groups",
    "minhash_signature",
    "lsh_band_keys",
    "minhash_band_keys_df",
    "minhash_candidate_pairs",
    "band_pairs_from_index",
    "incremental_dedup_status",
    "simhash_fingerprints",
    "ngram_jaccard_pairs",
    "connected_components",
]


def _words(text_col: str) -> str:
    """Normalized word array (SQL fragment shared with oracles)."""
    return f"split(trim(lower({text_col})), '\\\\s+')"


def content_hash(col) -> Column:
    """128-bit content hash for exact dedup (uniform shuffle key)."""
    return F.md5(col)


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups: hash-groupBy on content hash.

    Returns (content_h, n_dups, keeper_id) for groups with >1 member —
    the keeper is the smallest id (deterministic survivor policy)."""
    return (
        df.groupBy(content_hash(F.col(text_col)).alias("content_h"))
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keeper_id"))
        .where(F.col("n_dups") > 1)
    )


# MinHash universal-hash family: ONE md5 per shingle, split into two
# 32-bit lanes (h1 = first 8 hex chars, h2 = next 8), then
# hash_i(s) = (a_i·h1 + b_i·h2) mod P. Products stay ≤ 2^52 (coeffs
# < 2^13, lanes < 2^32) so the arithmetic is exact BIGINT in both Spark
# and DuckDB (DuckDB RAISES on 64-bit overflow). Twelve md5 calls per
# shingle (round 1) collapse to one — md5 was the dominant LSH cost.
_MH_P = 4294967291  # largest prime < 2^32
_MH_COEFFS: tuple = (
    (2971, 4111), (3001, 4127), (3019, 4129), (3023, 4133),
    (3037, 4139), (3041, 4153), (3049, 4157), (3061, 4159),
    (3067, 4177), (3079, 4201), (3083, 4211), (3089, 4217),
)

# a pathological band (thousands of byte-identical docs hitting one
# band key) would otherwise go quadratic inside its bucket; bands with
# more than this many members are dropped from candidate generation
# (exact dedup upstream is the right tool for identical-text floods —
# the q49 composition runs it first)
DEFAULT_BAND_CAP = 512


def _lane(x: str, start: int) -> str:
    """32-bit BIGINT lane from an md5 hex string column."""
    return f"CAST(conv(substring({x}, {start}, 8), 16, 10) AS BIGINT)"


def minhash_signature(text_col: str, n_hashes: int = 12, shingle_k: int = 3) -> Column:
    """MinHash signature as array<bigint> of length ``n_hashes``.

    Shingles are ``shingle_k``-word windows, hashed ONCE with md5; the
    ``n_hashes`` lanes are universal-hash combinations of the digest's
    two leading 32-bit words (see ``_MH_COEFFS``). Pure Catalyst
    expression — no UDF, one md5 per shingle.

    Docs with fewer than ``shingle_k`` words get a NULL signature (the
    sequence guard matters: Spark's sequence(1, n) DESCENDS for n<1)."""
    words = _words(text_col)
    # bind the SPLIT once too (round 10): the former inline form re-ran
    # the O(L) split per shingle inside the interpreted transform
    # lambda — O(L²)/doc, most of the column form's measured ~12 ms/doc
    shingles = (
        f"transform(sequence(1, size(__ws) - {shingle_k - 1}), "
        f"i -> array_join(slice(__ws, i, {shingle_k}), ' '))"
    )
    hx = f"transform({shingles}, s -> md5(s))"
    lanes = ", ".join(
        f"array_min(transform(__hx, x -> ({a} * {_lane('x', 1)} + {b} * {_lane('x', 9)}) % {_MH_P}))"
        for a, b in _MH_COEFFS[:n_hashes]
    )
    # bind words, then the md5 array, each via a single-element
    # transform scope
    return F.when(
        F.expr(f"size({words})") >= shingle_k,
        F.expr(
            f"transform(array({words}), __ws -> "
            f"transform(array({hx}), __hx -> array({lanes}))[0])[0]"
        ),
    ).otherwise(F.lit(None))


def lsh_band_keys(sig_col: str, n_hashes: int = 12, rows_per_band: int = 3) -> Column:
    """Band keys: ':'-joined ``rows_per_band`` consecutive minhashes per
    band, prefixed with the band index so one equi-join key suffices
    (separators matter — the lanes are variable-width decimals)."""
    n_bands = n_hashes // rows_per_band
    keys = [
        f"concat('{b}', "
        + ", ".join(f"':', {sig_col}[{b * rows_per_band + r}]" for r in range(rows_per_band))
        + ")"
        for b in range(n_bands)
    ]
    return F.expr(f"array({', '.join(keys)})")


def minhash_signatures_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 12,
    shingle_k: int = 3,
) -> DataFrame:
    """(__id, sig) rows: the MinHash signature per document, computed
    through STAGED projections (words → shingles → md5 digests → two
    32-bit lanes → signature), spread first by
    :func:`~.staging.spread_small_input` so a single small input file
    does not evaluate the whole md5 workload on one core. The staging
    keeps each array materialized once per row instead of re-derived
    inside every lane's lambda — the :func:`minhash_signature` COLUMN
    form re-evaluates its nested higher-order lambdas per lane and
    measured ~12 ms/doc vs this path's microseconds (q175's round-6
    budget regression traced to exactly that)."""
    words = _words("__text")
    shingles = (
        f"transform(sequence(1, size(__w) - {shingle_k - 1}), "
        f"i -> array_join(slice(__w, i, {shingle_k}), ' '))"
    )
    lanes = ", ".join(
        f"array_min(zip_with(__h1, __h2, (x, y) -> ({a} * x + {b} * y) % {_MH_P}))"
        for a, b in _MH_COEFFS[:n_hashes]
    )
    src = spread_small_input(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text")), "__id"
    )
    return (
        src.select("__id", F.expr(words).alias("__w"))
        .where(F.size("__w") >= shingle_k)
        .select("__id", F.expr(shingles).alias("__sh"))
        .select("__id", F.expr("transform(__sh, s -> md5(s))").alias("__hx"))
        .select(
            "__id",
            F.expr(f"transform(__hx, x -> {_lane('x', 1)})").alias("__h1"),
            F.expr(f"transform(__hx, x -> {_lane('x', 9)})").alias("__h2"),
        )
        .select("__id", F.expr(f"array({lanes})").alias("sig"))
    )


def minhash_band_keys_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 12,
    shingle_k: int = 3,
    rows_per_band: int = 3,
) -> DataFrame:
    """(__id, band_key) rows: one row per LSH band per document — the
    LSH "index" both the batch candidate generator and the incremental
    path join on. Signatures come from the staged
    :func:`minhash_signatures_df` projections."""
    sigs = minhash_signatures_df(df, id_col, text_col, n_hashes, shingle_k)
    return sigs.select(
        "__id", F.explode(lsh_band_keys("sig", n_hashes, rows_per_band)).alias("band_key")
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 12,
    shingle_k: int = 3,
    rows_per_band: int = 3,
    band_cap: int = DEFAULT_BAND_CAP,
) -> DataFrame:
    """MinHash-LSH near-duplicate CANDIDATE pairs (id_a < id_b).

    shingle → minhash → band → per-band pair generation: two docs pair
    iff they collide in ≥1 band with ≤ ``band_cap`` members. Pair
    generation is ONE aggregation shuffle (collect the sorted member
    list per band key, explode its ordered pairs) instead of a two-sided
    self-join — the band keys are md5-derived so groups are uniform, and
    the cap bounds both pair fan-out and per-group memory: a viral
    identical-text cluster degrades to a dropped band, never a
    quadratic bucket (exact dedup is the upstream answer to those)."""
    banded = minhash_band_keys_df(df, id_col, text_col, n_hashes, shingle_k, rows_per_band)
    return band_pairs_from_index(banded, band_cap)


def band_pairs_from_index(banded: DataFrame, band_cap: int = DEFAULT_BAND_CAP) -> DataFrame:
    """Candidate pairs (id_a < id_b) from a pre-built (__id, band_key)
    band index — the aggregation half of :func:`minhash_candidate_pairs`,
    split out so an incrementally-maintained index (e.g. a streaming
    foreachBatch append ledger) can reuse the identical capped per-band
    pair generation."""
    pair_expr = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> named_struct('id_a', x, 'id_b', y))))"
    )
    return (
        banded.groupBy("band_key")
        .agg(F.array_sort(F.collect_list("__id")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= band_cap))
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash fingerprint per document, shuffle-based (scales to any
    doc length — no nested higher-order lambdas):

    1. explode distinct words; token hash = first 60 md5 bits as BIGINT
    2. cross join bit positions 0..bits-1; vote +1/−1 per (doc, bit)
    3. pack winning bits into one BIGINT fingerprint
    """
    words = F.expr(f"array_distinct({_words(text_col)})")
    tokens = df.select(F.col(id_col).alias("__id"), F.explode(words).alias("w")).withColumn(
        "h", F.expr("CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT)")
    )
    bits_df = df.sparkSession.range(bits).select(F.col("id").cast("int").alias("b"))
    votes = (
        tokens.crossJoin(F.broadcast(bits_df))
        .groupBy("__id", "b")
        .agg(F.sum(F.expr("2 * ((h >> b) & 1) - 1")).alias("vote"))
    )
    return (
        votes.groupBy("__id")
        .agg(F.sum(F.expr("CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END")).alias("simhash"))
        .select(F.col("__id").alias(id_col), "simhash")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact character-n-gram Jaccard similarity for pairs.

    With ``candidates`` (id_a, id_b — e.g. LSH output) this is the
    verify stage and touches only candidate pairs; without, it
    cross-joins (quadratic — only for small/filtered inputs).

    Gram arrays are only materialized for documents that appear in a
    candidate pair (semi-join first): at corpus scale the candidate set
    is a sliver of the corpus, so gramming every document — twice, once
    per join side — would dominate the verify stage's cost.

    The gram sliver itself is STAGED on the candidates path (round 11):
    the pair join consumes ``g`` once per side, and with the candidate
    list broadcast the g side never shuffles — so exchange reuse cannot
    cover it and the corpus scan + member semi-join + O(L) gram
    transform evaluated once per side (verified in plans/r10's q49
    plan: two identical gram subtrees). The checkpoint default follows
    the candidate-sliver staging rule — g is bounded by the candidate
    member set, and its recompute-from-source on executor loss is one
    scan + transform."""
    src = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    if candidates is not None:
        member_ids = (
            candidates.select(F.col("id_a").alias("__id"))
            .unionByName(candidates.select(F.col("id_b").alias("__id")))
            .distinct()
        )
        src = src.join(member_ids, "__id", "left_semi")
    grams = F.expr(
        f"array_distinct(transform(sequence(1, length(__text) - {n - 1}), "
        f"i -> substring(__text, i, {n})))"
    )
    g = src.select("__id", grams.alias("grams")).where(F.expr("length(__text)") >= n)
    if candidates is not None:
        g = materialize(g, label="jaccard_grams", default="checkpoint")
        pairs = (
            candidates.join(g.withColumnRenamed("__id", "id_a").withColumnRenamed("grams", "grams_a"), "id_a")
            .join(g.withColumnRenamed("__id", "id_b").withColumnRenamed("grams", "grams_b"), "id_b")
        )
    else:
        a = g.select(F.col("__id").alias("id_a"), F.col("grams").alias("grams_a"))
        b = g.select(F.col("__id").alias("id_b"), F.col("grams").alias("grams_b"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size("grams_a") + F.size("grams_b") - inter
    return (
        pairs.select(
            "id_a",
            "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    candidates: DataFrame,
    threshold_ppm: int = 200_000,
) -> DataFrame:
    """Exact Levenshtein verification for candidate pairs — the
    strictest (and most expensive) near-dup verify: full O(|a|·|b|)
    edit-distance DP per pair, so it must ONLY ever run on a banded
    candidate sliver, never the corpus (LSH discovers, this confirms).

    Returns one row per candidate pair: (id_a, id_b, lev, max_len,
    lev_ppm, is_dup) where lev_ppm = lev·10⁶ div max(len_a, len_b, 1)
    — the length-normalized distance as an exact integer — and is_dup
    flags lev_ppm ≤ ``threshold_ppm`` (rides as INTEGER: the oracle
    compare normalizes booleans differently).

    Scale shape: the candidate list is broadcast against the corpus
    twice (explicit ``F.broadcast`` hints, not AQE-dependent — two
    corpus scans, no shuffle of the text column beyond the matched
    sliver); the second equi-join then pairs two candidate-sized
    slivers, with the broadcast hint on the candidate axis again. The
    DP itself is JVM-side ``levenshtein`` inside whole-stage codegen."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb"))
    # sliver of b-side texts: one corpus scan probed by the broadcast
    # candidate id set, then itself broadcast into the pair join (it is
    # candidate-sized — bounded by the band cap — never the corpus)
    sliver_b = F.broadcast(
        F.broadcast(candidates.select("id_b").distinct()).join(b, "id_b")
    )
    # stage the DP result once; ppm and the flag derive from the staged
    # column, so each pair runs the quadratic kernel exactly once
    staged = (
        F.broadcast(candidates).join(a, "id_a")
        .join(sliver_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("__ta", "__tb").cast("long").alias("lev"),
            F.greatest(F.length("__ta"), F.length("__tb"), F.lit(1))
            .cast("long")
            .alias("max_len"),
        )
    )
    return staged.select(
        "id_a",
        "id_b",
        "lev",
        "max_len",
        F.expr("lev * 1000000 div max_len").alias("lev_ppm"),
        (F.expr("lev * 1000000 div max_len") <= threshold_ppm)
        .cast("int")
        .alias("is_dup"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT for pairs: |A∩B| / |A| (and /|B|)
    in exact integer ppm — the directional companion to
    :func:`ngram_jaccard_pairs`. Jaccard misses engulfment (a short
    document quoted whole inside a long one scores low on union but
    1.0 on containment), so production dedup verifies both.

    Same scale shape as the Jaccard verify: gram arrays materialize
    only for candidate-pair members (semi-join first), quadratic work
    never touches the corpus. Integer ppm keeps the oracle exact."""
    src = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    if candidates is not None:
        member_ids = (
            candidates.select(F.col("id_a").alias("__id"))
            .unionByName(candidates.select(F.col("id_b").alias("__id")))
            .distinct()
        )
        src = src.join(member_ids, "__id", "left_semi")
    grams = F.expr(
        f"array_distinct(transform(sequence(1, length(__text) - {n - 1}), "
        f"i -> substring(__text, i, {n})))"
    )
    g = src.select("__id", grams.alias("grams")).where(F.expr("length(__text)") >= n)
    if candidates is not None:
        pairs = (
            candidates.join(
                g.withColumnRenamed("__id", "id_a").withColumnRenamed("grams", "grams_a"),
                "id_a",
            ).join(
                g.withColumnRenamed("__id", "id_b").withColumnRenamed("grams", "grams_b"),
                "id_b",
            )
        )
    else:
        a = g.select(F.col("__id").alias("id_a"), F.col("grams").alias("grams_a"))
        b = g.select(F.col("__id").alias("id_b"), F.col("grams").alias("grams_b"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("grams_a", "grams_b")).cast("long").alias("n_inter"),
        F.size("grams_a").cast("long").alias("n_a"),
        F.size("grams_b").cast("long").alias("n_b"),
    ).select(
        "id_a",
        "id_b",
        "n_inter",
        "n_a",
        "n_b",
        F.expr("n_inter * 1000000 div n_a").alias("cont_a_ppm"),
        F.expr("n_inter * 1000000 div n_b").alias("cont_b_ppm"),
        F.expr("greatest(n_inter * 1000000 div n_a, n_inter * 1000000 div n_b)").alias(
            "max_cont_ppm"
        ),
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
    driver_cap: int = 500_000,
) -> DataFrame:
    """Connected components over an undirected edge list — turns
    verified near-dup PAIRS into duplicate CLUSTERS (the step a real
    dedup pipeline needs before it can pick one survivor per cluster,
    since pairwise survivors are inconsistent: a~b and b~c must not
    keep both a and b).

    Iterative min-label propagation: every node starts labeled with its
    own id; each round replaces a node's label with the minimum label
    in its closed neighborhood, until a fixpoint. The result maps every
    node to the minimum node id reachable from it — a deterministic
    component id, independent of partitioning and join order.

    Scale shape: each round is one join + one aggregation, both
    shuffling on node id over the EDGE set only (near-dup edges are a
    sliver of the corpus, never the corpus itself). Rounds needed =
    graph diameter; near-dup graphs are unions of overlapping LSH-band
    cliques with single-digit diameter, so propagation beats the
    O(log n)-round star-contraction alternative (Kiveris et al.,
    MapReduce CC) on constant factors. Labels are staged eagerly per
    round (label ``cc_labels``) and the superseded round released —
    without the lineage cut, round k's plan re-derives rounds 1..k-1
    and the convergence-check action pays it again. Edge sets at or
    under ``driver_cap`` rows instead collect once and label
    in-process (identical result, no per-round jobs).
    Returns (id, component_id)."""
    # Near-dup edge sets are slivers of the corpus; under the cap
    # (a parameter — 500k edges keeps the Python adjacency well under
    # a GB of driver memory) the component labeling runs as one collect
    # + in-process label propagation — the exact same min-reachable-id
    # result (a graph property, not an execution artifact) without
    # diameter × 3 scheduled jobs. Larger edge sets take the
    # distributed propagation below. The projected edge frame is
    # staged FIRST so the cap probe evaluates the upstream edge
    # plan once and the over-cap distributed loop reuses the
    # materialized blocks instead of re-deriving it.
    edges_uv = materialize(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v")),
        label="cc_edges",
        default="checkpoint",
    )
    head = edges_uv.limit(driver_cap + 1).collect()
    if len(head) <= driver_cap:
        release(edges_uv)
        adj: dict = {}
        for r in head:
            u, v = r["u"], r["v"]
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        labels = {n: n for n in adj}
        # Synchronous min-label rounds — the same update rule as the
        # distributed loop below, including the max_iter truncation
        # (neighbor minima read the PREVIOUS round's labels).
        for _ in range(max_iter):
            nxt = {
                n: min(lbl, min(labels[v] for v in adj[n]))
                for n, lbl in labels.items()
            }
            if nxt == labels:
                break
            labels = nxt
        from pyspark.sql import types as T

        dt = edges.schema[src_col].dataType
        schema = T.StructType(
            [T.StructField("id", dt), T.StructField("component_id", dt)]
        )
        return edges.sparkSession.createDataFrame(
            sorted(labels.items()), schema
        )

    sym = (
        edges_uv
        .unionByName(edges_uv.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    labels = materialize(
        sym.select("u").distinct().withColumn("label", F.col("u")),
        label="cc_labels",
        default="checkpoint",
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = materialize(
            labels.join(neighbor_min, "u", "left")
            .select("u", F.least("label", F.coalesce("nmin", "label")).alias("label")),
            label="cc_labels",
            default="checkpoint",
        )
        converged = (
            new_labels.join(labels.withColumnRenamed("label", "old"), "u")
            .where(F.col("label") != F.col("old"))
            .isEmpty()
        )
        release(labels)
        labels = new_labels
        if converged:
            break
    return labels.select(F.col("u").alias("id"), F.col("label").alias("component_id"))


def incremental_dedup_status(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 12,
    shingle_k: int = 3,
    rows_per_band: int = 3,
) -> DataFrame:
    """Screen an INCOMING batch against an EXISTING corpus — the
    continuous corpus-building shape, where each new crawl is checked
    against the accumulated index instead of re-deduping the world.

    Per incoming document: ``exact_dup`` (md5 content hash exists in
    the corpus), else ``near_dup`` (shares ≥1 LSH band key with any
    corpus document), else ``novel``. Returns (id, status).

    Scale shape: the existing side's (content_hash) and (band_key)
    sets are exactly what a production pipeline would PERSIST as its
    dedup index (uniform md5-derived keys, linear size); both probes
    are semi-joins on those uniform keys, so the incoming batch —
    normally a sliver of the corpus — shuffles only itself. No cap is
    applied on the band probe: a hot band means heavily-duplicated
    boilerplate, and an incremental ingest must REJECT matches against
    it, not wave them through (the cap exists in pair GENERATION to
    bound fan-out; a semi-join probe has no fan-out to bound)."""
    inc = incoming.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    ex_hashes = existing.select(content_hash(F.col(text_col)).alias("__h")).distinct()
    ex_bands = minhash_band_keys_df(
        existing, id_col, text_col, n_hashes, shingle_k, rows_per_band
    ).select("band_key").distinct()

    exact_ids = (
        inc.select("__id", content_hash(F.col("__text")).alias("__h"))
        .join(ex_hashes, "__h", "left_semi")
        .select("__id")
    )
    near_ids = (
        minhash_band_keys_df(incoming, id_col, text_col, n_hashes, shingle_k, rows_per_band)
        .join(ex_bands, "band_key", "left_semi")
        .select("__id")
        .distinct()
    )
    return (
        inc.select("__id")
        .join(exact_ids.withColumn("__exact", F.lit(True)), "__id", "left")
        .join(near_ids.withColumn("__near", F.lit(True)), "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.when(F.col("__exact"), F.lit("exact_dup"))
            .when(F.col("__near"), F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("status"),
        )
    )

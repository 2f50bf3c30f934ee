"""BPE vocabulary induction — byte-pair-encoding merge learning.

The tokenizer-training step of an LLM data pipeline: repeatedly find
the most frequent adjacent token pair in the corpus and fuse it into a
new vocabulary symbol. Spark has nothing like it; the reference
delegates all post-decode processing to SQL (README.md:13-17), where
the iteration is inexpressible without engine-specific recursion — so
the q105 oracle unrolls the rounds as CTEs instead.

Determinism contract (what makes this oracle-checkable):

- Tokens are 8-hex-char md5 prefixes of the whitespace words, wrapped
  as ``[ab12cd34]`` — the bracket alphabet is disjoint from hex+'+',
  so a merge pattern ``[x][y]`` can never match across token
  boundaries or inside a token.
- Pair selection orders by (count DESC, pattern ASC) — a unique key.
- Merge application is literal leftmost non-overlapping string
  ``replace`` — identical semantics in Spark (Java), DuckDB and
  Python ``str.replace`` — proven by the adversarial unit tests.

100 TB story: each round is one narrow re-tokenization + one
uniform-key pair count + a 1-row TakeOrdered whose winner returns to
the driver (one row — the k-means-centroid pattern) and rides into
the next round as a literal. Production BPE trainers iterate hundreds
of rounds on a SAMPLED subset for exactly this reason — the per-round
corpus pass is the cost driver, and the sample bound is a knob, not a
redesign. The corpus is staged per round (lazily, label ``bpe_corpus``)
so the plan stays flat, and each superseded round is released.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .staging import materialize, release

# adjacent pairs of the CURRENT tokenization, as ready-to-replace
# literal patterns '[x][y]'
_PAIRS_EXPR = (
    "CASE WHEN size(t) >= 2 THEN transform(sequence(0, size(t) - 2),"
    " i -> concat('[', t[i], '][', t[i+1], ']'))"
    " ELSE CAST(array() AS array<string>) END"
)
_TOKENS_EXPR = "split(substring(s, 2, length(s) - 2), '\\\\]\\\\[')"


def corpus_strings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, s) with s = bracket-wrapped md5-prefix token string."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(
            f"concat('[', array_join(transform(split(trim(lower({text_col})), '\\\\s+'),"
            f" x -> substring(md5(x), 1, 8)), ']['), ']')"
        ).alias("s"),
    ).where(F.expr(f"size(split(trim(lower({text_col})), '\\\\s+')) >= 1"))


def stage_corpus(corpus: DataFrame) -> DataFrame:
    """Staged corpus (label ``bpe_corpus``), so a learn round's pair
    count and token count read it instead of recomputing it. Staging it
    on first read instead measured within run-to-run spread on 4 cores
    (SCALING.md, "Materialization boundaries")."""
    return materialize(corpus, label="bpe_corpus", default="checkpoint")


def learn_bpe_merges(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    rounds: int,
    track_tokens: bool = True,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Learn ``rounds`` BPE merges; returns one row per round:
    (merge_round, pattern, merged, pair_count, tokens_after).

    ``track_tokens=False`` skips the per-round corpus-wide
    ``tokens_after`` aggregation (emitted as NULL) — one fewer full
    corpus pass per round for callers that only consume the merge
    table itself (the encode path). ``corpus`` lets a caller share one
    (doc_id, s) tokenized frame (``stage_corpus(corpus_strings(...))``)
    between learn and encode — the caller then owns its lineage cut,
    and this function never releases it."""
    if rounds < 1:
        raise ValueError(f"learn_bpe_merges: rounds must be >= 1, got {rounds}")
    for c in (id_col, text_col):
        if c not in docs.columns:
            raise ValueError(f"learn_bpe_merges: column {c!r} not in docs")

    spark = docs.sparkSession
    given = corpus
    if corpus is None:
        corpus = stage_corpus(corpus_strings(docs, id_col, text_col))
    prev = None
    out_rows: list = []
    for k in range(1, rounds + 1):
        # The winning pair is ONE row — collect it so the replace rides
        # into the next round as literals (a broadcast-join form would
        # defer the pair count into the output plan and re-run it per
        # consumer). The pattern alphabet is hex + '[]+' — no SQL
        # quoting hazards.
        top = (
            corpus.select(F.expr(_TOKENS_EXPR).alias("t"))
            .select(F.explode(F.expr(_PAIRS_EXPR)).alias("pattern"))
            .groupBy("pattern")
            .agg(F.count("*").cast("long").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("pattern"))
            .limit(1)
            .collect()
        )
        if prev is not given:  # `corpus` is staged; its source can go
            release(prev)
        if not top:
            break
        pattern = top[0]["pattern"]
        merged = pattern.replace("][", "+")
        pair_count = int(top[0]["pair_count"])
        prev, corpus = corpus, corpus.select(
            "doc_id", F.expr(f"replace(s, '{pattern}', '{merged}')").alias("s")
        )
        if k < rounds:  # the last round's corpus is read at most once
            corpus = stage_corpus(corpus)
        tokens_after = None
        if track_tokens:
            v = corpus.agg(
                F.sum(F.expr(f"size({_TOKENS_EXPR})")).cast("long").alias("n")
            ).collect()[0]["n"]
            tokens_after = int(v) if v is not None else None
        out_rows.append((k, pattern, merged, pair_count, tokens_after))
    for frame in (prev, corpus):  # the merge rows are on the driver now
        if frame is not given:
            release(frame)
    return spark.createDataFrame(
        out_rows,
        "merge_round int, pattern string, merged string, pair_count long, tokens_after long",
    )


def apply_bpe_merges(
    docs: DataFrame,
    merges: DataFrame,
    *,
    id_col: str,
    text_col: str,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Encode every document with an already-learned merge table — the
    scale-side half of BPE: training (:func:`learn_bpe_merges`) runs
    once on a sample, ENCODING runs over the full 100 TB corpus.

    ``merges`` is the (merge_round, pattern, merged) table the learner
    emits. It collapses to ONE broadcast row holding the round-ordered
    merge array (``array_sort`` on the struct orders by merge_round,
    its first field), and each document folds the merges in order with
    ``aggregate(..., replace)`` — a single narrow projection, no
    shuffle, no driver collect, no Python.

    Returns one row per doc: (doc_id, tokens_before, tokens_after,
    n_merged, saved_ppm) where n_merged counts fused (``+``-joined)
    symbols and saved_ppm = (before−after)·10⁶ div before.
    """
    for c in (id_col, text_col):
        if c not in docs.columns:
            raise ValueError(f"apply_bpe_merges: column {c!r} not in docs")
    for c in ("merge_round", "pattern", "merged"):
        if c not in merges.columns:
            raise ValueError(f"apply_bpe_merges: column {c!r} not in merges")

    ms = merges.agg(
        F.array_sort(F.collect_list(F.struct("merge_round", "pattern", "merged"))).alias("ms")
    )
    if corpus is None:
        # standalone encode: tokenize here; a learn+encode caller passes
        # the shared checkpointed frame instead (one md5 pass, not two)
        corpus = corpus_strings(docs, id_col, text_col)
    applied = corpus.crossJoin(F.broadcast(ms)).select(
        "doc_id",
        F.expr(f"size({_TOKENS_EXPR})").cast("long").alias("tokens_before"),
        F.expr("aggregate(ms, s, (acc, m) -> replace(acc, m.pattern, m.merged))").alias("s"),
    )
    toks_after = f"size({_TOKENS_EXPR})"
    n_merged = f"size(filter({_TOKENS_EXPR}, t -> contains(t, '+')))"
    return applied.select(
        "doc_id",
        "tokens_before",
        F.expr(toks_after).cast("long").alias("tokens_after"),
        F.expr(n_merged).cast("long").alias("n_merged"),
        F.expr(
            f"(tokens_before - {toks_after}) * 1000000 div tokens_before"
        ).cast("long").alias("saved_ppm"),
    )

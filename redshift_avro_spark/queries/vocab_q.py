"""Vocabulary-induction query: BPE merge learning (q105).

The iterative tokenizer-training step (see
:mod:`..operators.bpe`). The oracle UNROLLS the five merge rounds as
CTE chains — pair counting, unique-keyed argmax, literal-replace merge
application, re-tokenization — which is only possible because every
step of the operator is deterministic string/integer work with
identical semantics in Spark (Java ``replace``) and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load_table, register
from ..operators.bpe import apply_bpe_merges, corpus_strings, learn_bpe_merges, stage_corpus
from ..operators.staging import materialize, memoized

_ROUNDS = 5

# shared oracle header: the bracket-wrapped md5-prefix tokenization
# (must mirror operators.bpe.corpus_strings exactly)
_BASE_CTES = """w AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ws FROM documents
    ),
    c0 AS (
      SELECT doc_id,
             concat('[', array_to_string(list_transform(ws, x -> substring(md5(x), 1, 8)), ']['), ']') AS s
      FROM w WHERE len(ws) >= 1
    )"""


def _round_cte(k: int) -> str:
    return f"""tok{k} AS (
      SELECT doc_id, string_split(substring(s, 2, length(s) - 2), '][') AS t FROM c{k - 1}
    ),
    p{k} AS (
      SELECT concat('[', t[i], '][', t[i + 1], ']') AS pattern,
             CAST(count(*) AS BIGINT) AS pair_count
      FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM tok{k})
      GROUP BY 1
    ),
    t{k} AS (
      SELECT pattern, replace(pattern, '][', '+') AS merged, pair_count
      FROM p{k} ORDER BY pair_count DESC, pattern LIMIT 1
    ),
    c{k} AS (SELECT c.doc_id, replace(c.s, t.pattern, t.merged) AS s FROM c{k - 1} c, t{k} t),
    n{k} AS (
      SELECT CAST(SUM(len(string_split(substring(s, 2, length(s) - 2), ']['))) AS BIGINT)
             AS tokens_after
      FROM c{k}
    )"""


@register(
    "q105_bpe_merges",
    oracle=f"""
    WITH {_BASE_CTES},
    {", ".join(_round_cte(k) for k in range(1, _ROUNDS + 1))}
    SELECT * FROM (
      {" UNION ALL ".join(
          f"SELECT {k} AS merge_round, pattern, merged, pair_count, n{k}.tokens_after FROM t{k}, n{k}"
          for k in range(1, _ROUNDS + 1)
      )}
    ) ORDER BY merge_round
    """,
)
def q105_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the corpus's top-5 BPE merges: per round, the most
    frequent adjacent token pair (unique (count DESC, pattern) argmax)
    is fused corpus-wide by literal leftmost non-overlapping replace,
    and the next round counts pairs of the NEW tokenization.

    Scale shape (per round): one narrow re-tokenization, one
    uniform-key pair aggregation, a 1-row TakeOrdered whose winner
    rides back in as a broadcast — no driver collect; a per-round
    corpus cut keeps the plan flat. Production BPE trainers run
    hundreds of rounds on a SAMPLED subset — the sample size is a
    knob on the same plan, not a redesign."""
    docs = load_table(spark, sf_dir, "documents")
    return learn_bpe_merges(docs, id_col="doc_id", text_col="text", rounds=_ROUNDS).orderBy(
        "merge_round"
    )


# Shared oracle chain: the learned merges applied corpus-wide, per-doc
# token arrays before/after — ONE copy of the formula consumed by the
# q114 per-doc report and the q194 per-source efficiency rollup.
_ENC_CTES = f"""{_BASE_CTES},
    {", ".join(_round_cte(k) for k in range(1, _ROUNDS + 1))},
    enc AS (
      SELECT c0.doc_id,
             CAST(len(string_split(substring(c0.s, 2, length(c0.s) - 2), '][')) AS BIGINT)
               AS tokens_before,
             string_split(substring(c{_ROUNDS}.s, 2, length(c{_ROUNDS}.s) - 2), '][') AS t
      FROM c0 JOIN c{_ROUNDS} USING (doc_id)
    )"""


# Shared encode pass (the _kn_scores pattern): q114 and q194 both
# consume the per-doc encode frame, and the q106 composite runs both —
# ONE BPE training + corpus fold per (app, corpus) instead of one per
# consumer. Corpus-ROW-scale frame → parquet staging boundary per the
# staging rule.
def _bpe_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        # ONE md5 tokenization shared by learn and encode: the lazy cut
        # is written by learn's first pair-count job and the encode fold
        # reads the same blocks.
        corpus = stage_corpus(corpus_strings(docs, "doc_id", "text"))
        merges = learn_bpe_merges(
            docs,
            id_col="doc_id",
            text_col="text",
            rounds=_ROUNDS,
            track_tokens=False,
            corpus=corpus,
        ).select("merge_round", "pattern", "merged")
        return materialize(
            apply_bpe_merges(docs, merges, id_col="doc_id", text_col="text", corpus=corpus),
            label="bpe_encoded",
            default="parquet",
        )

    return memoized("bpe_encoded", spark, sf_dir, build)


@register(
    "q114_bpe_encode",
    oracle=f"""
    WITH {_ENC_CTES}
    SELECT doc_id, tokens_before,
           CAST(len(t) AS BIGINT) AS tokens_after,
           CAST(len(list_filter(t, x -> contains(x, '+'))) AS BIGINT) AS n_merged,
           CAST((tokens_before - len(t)) * 1000000 // tokens_before AS BIGINT) AS saved_ppm
    FROM enc ORDER BY doc_id
    """,
)
def q114_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the learned BPE merge table — the scale
    half of tokenization: q105 trains on a sample once, this pass runs
    over the FULL corpus. The merge table collapses to one broadcast
    array and each document folds the merges in round order with
    ``aggregate(..., replace)`` — a single narrow projection, no
    shuffle, no Python, no driver collect. Per doc: token counts
    before/after, fused-symbol count, ppm tokens saved.

    The oracle replays the same five merges per document via the q105
    CTE chain (sequential corpus-wide replace ≡ the per-doc fold,
    because each round's replace is literal and leftmost). The encode
    frame itself comes from the per-(app, corpus) ``_bpe_encoded``
    memo shared with q194's per-source rollup — one training + one
    corpus fold however many consumers run."""
    return _bpe_encoded(spark, sf_dir).orderBy("doc_id")


@register(
    "q194_tokenizer_efficiency",
    oracle=f"""
    WITH {_ENC_CTES},
    j AS (
      SELECT d.source,
             e.tokens_before,
             CAST(len(e.t) AS BIGINT) AS tokens_after,
             CAST(len(list_filter(e.t, x -> contains(x, '+'))) AS BIGINT) AS n_merged,
             d.n_chars
      FROM enc e JOIN documents d USING (doc_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tokens_before) AS BIGINT) AS n_words,
           CAST(sum(tokens_after) AS BIGINT) AS n_tokens,
           CAST(sum(n_merged) AS BIGINT) AS n_merged_tokens,
           CAST((sum(tokens_before) - sum(tokens_after)) * 1000000
             // sum(tokens_before) AS BIGINT) AS saved_ppm,
           CAST(sum(n_chars) * 1000000 // sum(tokens_after) AS BIGINT)
             AS chars_per_token_ppm
    FROM j GROUP BY source ORDER BY source
    """,
)
def q194_tokenizer_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE tokenizer-efficiency datasheet — the release metric a
    tokenizer change is judged by (fertility/compression per corpus
    slice, the per-language table in every tokenizer paper): word and
    BPE-token totals, fused-symbol count, ppm tokens saved by the
    merges, and chars-per-token in exact ppm (sum of the documents'
    ``n_chars`` over the post-merge token count). A source whose
    chars-per-token lags the corpus is the one paying the context
    budget — the signal that drives per-source vocabulary extension.

    Scale shape: the expensive half (training + corpus fold) is the
    shared ``_bpe_encoded`` memo — this query adds ONE broadcast-sized
    join (the per-doc encode frame against the documents projection on
    the parquet-pruned ``doc_id/source/n_chars`` columns, doc-keyed
    and co-partitioned) and one tiny per-source aggregation: sources
    number in the dozens at 100 TB, so the rollup is a map-side
    partial into a near-empty shuffle."""
    enc = _bpe_encoded(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return (
        enc.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("tokens_before").cast("long").alias("n_words"),
            F.sum("tokens_after").cast("long").alias("n_tokens"),
            F.sum("n_merged").cast("long").alias("n_merged_tokens"),
            F.expr(
                "CAST((sum(tokens_before) - sum(tokens_after)) * 1000000"
                " DIV sum(tokens_before) AS BIGINT)"
            ).alias("saved_ppm"),
            F.expr(
                "CAST(sum(n_chars) * 1000000 DIV sum(tokens_after) AS BIGINT)"
            ).alias("chars_per_token_ppm"),
        )
        .orderBy("source")
    )


_HEAPS_CHECKPOINTS = (10, 25, 50, 100, 250, 500)


@register(
    "q142_vocab_growth",
    oracle=f"""
    WITH terms AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ),
    first_seen AS (
      SELECT term, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM terms GROUP BY term
    ),
    ranked_docs AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rk FROM (
        SELECT DISTINCT doc_id FROM documents
      )
    ),
    cps AS (SELECT unnest([{", ".join(str(k) for k in _HEAPS_CHECKPOINTS)}]) AS k),
    marks AS (
      SELECT c.k, r.doc_id AS cutoff
      FROM cps c JOIN ranked_docs r ON r.rk = c.k
    )
    SELECT m.k AS n_docs,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN f.first_doc = m.cutoff THEN 1 ELSE 0 END) AS BIGINT)
             AS new_at_cutoff
    FROM marks m JOIN first_seen f ON f.first_doc <= m.cutoff
    GROUP BY m.k ORDER BY n_docs
    """,
)
def q142_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps'-law points): distinct terms
    seen after the first k documents (doc_id order) for fixed
    checkpoints — the corpus statistic that sizes tokenizer
    vocabularies and detects near-duplicate-heavy crawls (a flat
    curve means new documents add no new language).

    Scale shape: one explode + one uniform-key MIN agg gives each
    term's first-seen document; the checkpoint cutoffs come from a
    tiny row_number over distinct doc ids; the curve is a broadcast
    join + one agg over |vocab| rows. The corpus is read once."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(F.expr("split(trim(lower(text)), '\\\\s+')")).alias("term")
    )
    first_seen = terms.groupBy("term").agg(F.min("doc_id").cast("long").alias("first_doc"))
    from pyspark.sql.window import Window as W

    ranked = (
        docs.select("doc_id")
        .distinct()
        .select("doc_id", F.row_number().over(W.orderBy("doc_id")).alias("rk"))
    )
    cps = None
    for k in _HEAPS_CHECKPOINTS:
        row = ranked.where(F.col("rk") == k).select(
            F.lit(k).cast("long").alias("k"), F.col("doc_id").alias("cutoff")
        )
        cps = row if cps is None else cps.unionByName(row)
    return (
        first_seen.crossJoin(
            F.broadcast(materialize(cps, label="vocab_cutoffs", default="checkpoint"))
        )
        .where(F.col("first_doc") <= F.col("cutoff"))
        .groupBy(F.col("k").alias("n_docs"))
        .agg(
            F.count("*").cast("long").alias("vocab_size"),
            F.sum(F.expr("CASE WHEN first_doc = cutoff THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("new_at_cutoff"),
        )
        .orderBy("n_docs")
    )

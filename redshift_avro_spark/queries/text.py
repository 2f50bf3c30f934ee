"""Text-analysis queries over the ``documents`` table.

Per-document outputs (no float aggregation → no accumulation-order
drift): q37 language-ID + quality features, q38 token counts, q39
rolling-hash fingerprints. All Spark expressions are pure Catalyst
(:mod:`..operators.text`); the oracles rebuild the identical formulas
in DuckDB, with the same md5-derived token hashes and the same
left-to-right fold for the fingerprint (``list_reduce`` with a
prepended 0 init ≡ Spark ``aggregate`` with init 0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import load_table, register
from ..operators.staging import materialize
from ..operators.text import STOPWORDS, doc_fingerprint, language_id, quality_features, token_count

_WORDS = "regexp_split_to_array(trim(lower(text)), '\\s+')"
_N_WORDS = f"len({_WORDS})"
_SW = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
_STOP_RATIO = f"(len(list_filter({_WORDS}, w -> w IN ({_SW}))) / CAST({_N_WORDS} AS DOUBLE))"
_PUNCT_RATIO = (
    "(length(regexp_replace(text, '[^!-/:-@\\[-`]', '', 'g')) / CAST(length(text) AS DOUBLE))"
)
_DISTINCT_RATIO = f"(len(list_distinct({_WORDS})) / CAST({_N_WORDS} AS DOUBLE))"
_MEAN_WLEN = (
    f"(list_aggregate(list_transform({_WORDS}, w -> length(w)), 'sum') / CAST({_N_WORDS} AS DOUBLE))"
)
_SCORE = (
    f"round(least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE), "
    f"0.25 * least(CAST(1 AS DOUBLE), {_N_WORDS} / CAST(50 AS DOUBLE)) + "
    f"0.25 * (1 - {_PUNCT_RATIO}) + "
    f"0.25 * {_DISTINCT_RATIO} + "
    f"0.25 * least(CAST(1 AS DOUBLE), {_MEAN_WLEN} / CAST(8 AS DOUBLE)))), 6)"
)

_HITS = {
    lang: f"len(list_filter({_WORDS}, w -> w IN ({', '.join(repr(w) for w in ws)})))"
    for lang, ws in STOPWORDS.items()
}
_LANG_PRED = (
    f"CASE WHEN regexp_matches(text, '[\\x{{4E00}}-\\x{{9FFF}}]') THEN 'zh' "
    f"WHEN {_HITS['en']} >= {_HITS['es']} AND {_HITS['en']} >= {_HITS['de']} AND {_HITS['en']} >= {_HITS['fr']} AND {_HITS['en']} > 0 THEN 'en' "
    f"WHEN {_HITS['es']} >= {_HITS['de']} AND {_HITS['es']} >= {_HITS['fr']} AND {_HITS['es']} > 0 THEN 'es' "
    f"WHEN {_HITS['de']} >= {_HITS['fr']} AND {_HITS['de']} > 0 THEN 'de' "
    f"WHEN {_HITS['fr']} > 0 THEN 'fr' "
    f"ELSE 'und' END"
)


@register(
    "q37_text_quality",
    oracle=f"""
    SELECT doc_id, lang, {_LANG_PRED} AS lang_pred,
           CAST(length(text) AS INTEGER) AS n_chars,
           CAST({_N_WORDS} AS INTEGER) AS n_words,
           ROUND({_MEAN_WLEN}, 6) AS mean_word_len,
           ROUND({_STOP_RATIO}, 6) AS stopword_ratio,
           ROUND({_PUNCT_RATIO}, 6) AS punct_ratio,
           ROUND({_DISTINCT_RATIO}, 6) AS distinct_ratio,
           {_SCORE} AS quality_score
    FROM documents ORDER BY doc_id
    """,
)
def q37_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID (stopword-lexicon heuristic, CJK charset first) +
    quality features per document — one narrow codegen'd projection, no
    shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "lang",
            language_id("text").alias("lang_pred"),
            quality_features("text").alias("q"),
        )
        .select("doc_id", "lang", "lang_pred", "q.*")
        .orderBy("doc_id")
    )


@register(
    "q38_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST({_N_WORDS} AS INTEGER) AS n_words,
           CAST(greatest({_N_WORDS}, CAST(ceil(length(text) / 4.0) AS BIGINT)) AS INTEGER) AS n_tokens_est
    FROM documents ORDER BY doc_id
    """,
)
def q38_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish subword estimate (~4 chars per
    token, floored at the word count)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", token_count("text").alias("t"))
        .select("doc_id", "t.*")
        .orderBy("doc_id")
    )


@register(
    "q39_doc_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(regexp_split_to_array(trim(lower(text)), '\\s+'),
                 w -> CAST(concat('0x', substring(md5(w), 1, 4)) AS BIGINT))),
             (acc, t) -> (acc * 131 + t) % 2147483647) AS fingerprint
    FROM documents ORDER BY doc_id
    """,
)
def q39_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling polynomial hash over normalized words
    (mod 2^31−1 keeps every intermediate in 64-bit range in both
    engines)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint("text").alias("fingerprint")).orderBy("doc_id")


@register(
    "q56_tfidf_terms",
    oracle=f"""
    WITH tf AS (
      SELECT lang, doc_id, w AS term, COUNT(*) AS tf
      FROM (SELECT lang, doc_id, unnest({_WORDS}) AS w FROM documents)
      GROUP BY lang, doc_id, w
    ),
    stats AS (
      SELECT lang, term,
             CAST(SUM(tf) AS BIGINT) AS sum_tf,
             CAST(COUNT(*) AS BIGINT) AS df
      FROM tf GROUP BY lang, term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT lang, term, sum_tf, df,
             ROUND(sum_tf * (n.n_docs + 1.0) / (df + 1.0), 6) AS tfidf
      FROM stats, n
    )
    SELECT lang, term, sum_tf, df, tfidf FROM (
      SELECT s.*, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tfidf DESC, term) AS rn
      FROM scored s
    ) WHERE rn <= 5
    ORDER BY lang, tfidf DESC, term
    """,
)
def q56_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary weighting (SURVEY §7.2 step 8 'tf-idf'): term
    frequency × smoothed inverse document frequency, top-5 terms per
    language. The idf uses the ratio form (N+1)/(df+1) instead of its
    log — a monotone transform with identical ranking whose IEEE
    mult/div is bit-deterministic across engines (ln is libm-dependent
    and would break the value-hash). Shuffles: explode→(doc,term) agg,
    (lang,term) agg, one window on lang — all uniform keys."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.expr("split(trim(lower(text)), '\\\\s+')")
    tf = (
        docs.select("lang", "doc_id", F.explode(words).alias("term"))
        .groupBy("lang", "doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    stats = tf.groupBy("lang", "term").agg(
        F.sum("tf").cast("long").alias("sum_tf"), F.count("*").cast("long").alias("df")
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = stats.crossJoin(F.broadcast(n)).select(
        "lang",
        "term",
        "sum_tf",
        "df",
        F.round(
            F.col("sum_tf") * (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .drop("rn")
        .orderBy("lang", F.desc("tfidf"), "term")
    )


@register(
    "q95_quality_classifier",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_WORDS} AS ws FROM documents
    ),
    b AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 2 THEN list_transform(generate_series(1, len(ws)-1),
               i -> concat(ws[i], ' ', ws[i+1])) ELSE CAST([] AS VARCHAR[]) END AS bgs,
             greatest(len(ws)-1, 0) AS nf
      FROM w
    ),
    s AS (
      SELECT doc_id, CAST(nf AS INTEGER) AS n_feats, nf,
             CAST(coalesce(list_aggregate(list_transform(bgs,
               bg -> ((CAST(concat('0x', substring(md5(bg), 1, 8)) AS BIGINT) % 1024)
                      * 2654435761) % 2003 - 1001), 'sum'), 0) AS BIGINT) AS logit_sum
      FROM b
    )
    SELECT doc_id, n_feats, logit_sum,
           CASE WHEN nf = 0 THEN CAST(0 AS BIGINT)
                ELSE logit_sum * 1000000 // nf END AS logit_ppm,
           logit_sum > 0 AS keep
    FROM s ORDER BY doc_id
    """,
)
def q95_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering in the fasttext-classifier shape
    (the CCNet/LLaMA-pipeline step): hashed word-bigram features → a
    deterministic linear weight table → per-doc logit and keep/drop.
    Exact BIGINT arithmetic end to end (ppm integer division instead
    of a float mean), so the oracle is bit-for-bit; a production
    deployment swaps the weight expression for a broadcast trained
    table — same narrow, shuffle-free plan. See
    operators/text.py::quality_classifier_score."""
    from ..operators.text import quality_classifier_score

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", quality_classifier_score("text").alias("q"))
        .select("doc_id", "q.*")
        .orderBy("doc_id")
    )


@register(
    "q100_lm_familiarity",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_WORDS} AS ws FROM documents
    ),
    b AS (
      SELECT doc_id,
             unnest(CASE WHEN len(ws) >= 2 THEN list_transform(generate_series(1, len(ws)-1),
               i -> concat(ws[i], ' ', ws[i+1])) ELSE CAST([] AS VARCHAR[]) END) AS bg
      FROM w
    ),
    model AS (
      SELECT bg, CAST(count(*) AS BIGINT) AS cnt
      FROM b GROUP BY bg ORDER BY cnt DESC, bg LIMIT 256
    ),
    sc AS (
      SELECT d.doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(count(m.cnt) AS BIGINT) AS n_known,
             CAST(coalesce(sum(m.cnt), 0) AS BIGINT) AS fam_sum
      FROM b d LEFT JOIN model m USING (bg) GROUP BY d.doc_id
    )
    SELECT doc_id,
           CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(n_known, 0) AS BIGINT) AS n_known,
           CAST(coalesce(fam_sum, 0) AS BIGINT) AS fam_sum,
           CAST(CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0
                ELSE n_known * 1000000 // n_bigrams END AS BIGINT) AS known_ppm,
           coalesce(n_known * 1000000 // n_bigrams >= 350000, FALSE) AS lm_keep
    FROM documents LEFT JOIN sc USING (doc_id)
    ORDER BY doc_id
    """,
)
def q100_lm_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained LM familiarity filter (the CCNet shape: score
    each document against an n-gram language model and drop the
    out-of-distribution tail) — here a word-bigram unigram-count model
    TRAINED ON THE CORPUS ITSELF in the same job, truncated to the
    top-256 bigrams by (count DESC, bigram) — a unique sort key, so
    the vocabulary cutoff is deterministic in both engines.

    Exact BIGINT arithmetic end to end (known-bigram ppm, not a float
    log-perplexity — same trade as q95): n_bigrams / n_known /
    fam_sum (sum of corpus counts of the doc's known bigrams) and
    keep = known_ppm ≥ 350000.

    Scale shape: train = one explode + one uniform-key agg + a top-V
    TakeOrdered (V rows to the driver, V=256); score = the SAME
    exploded bigrams joined to the BROADCAST model (no shuffle), then
    one agg back on doc_id. At 100 TB the model table is the only
    state that moves — swap the self-trained CTE for a pre-trained
    table (e.g. Wikipedia counts) and the score path is unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    bigrams = F.expr(
        "CASE WHEN size(w) >= 2 THEN transform(sequence(0, size(w)-2),"
        " i -> concat(w[i], ' ', w[i+1])) ELSE CAST(array() AS array<string>) END"
    )
    bg = (
        docs.select("doc_id", F.expr("split(trim(lower(text)), '\\\\s+')").alias("w"))
        .select("doc_id", F.explode(bigrams).alias("bg"))
    )
    model = (
        bg.groupBy("bg")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bg"))
        .limit(256)
    )
    sc = (
        bg.join(F.broadcast(model), "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.count("cnt").cast("long").alias("n_known"),
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("fam_sum"),
        )
    )
    known_ppm = F.when(
        F.coalesce(F.col("n_bigrams"), F.lit(0)) == 0, F.lit(0)
    ).otherwise(F.floor(F.col("n_known") * F.lit(1_000_000) / F.col("n_bigrams")))
    return (
        docs.select("doc_id")
        .join(sc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("n_known", F.lit(0)).cast("long").alias("n_known"),
            F.coalesce("fam_sum", F.lit(0)).cast("long").alias("fam_sum"),
            known_ppm.cast("long").alias("known_ppm"),
            F.coalesce(
                F.floor(F.col("n_known") * F.lit(1_000_000) / F.col("n_bigrams"))
                >= F.lit(350_000),
                F.lit(False),
            ).alias("lm_keep"),
        )
        .orderBy("doc_id")
    )


@register(
    "q113_bm25_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    s AS (SELECT CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
    qt AS (
      SELECT term, df FROM dfreq, n
      WHERE df * 2 <= n_docs AND df >= 2
      ORDER BY df DESC, term LIMIT 8
    ),
    scored AS (
      SELECT tf.doc_id,
             CAST(((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))) * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE))))) AS DECIMAL(28,12)) AS tscore
      FROM tf JOIN qt USING (term) JOIN dl USING (doc_id), n, s
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
             ROUND(CAST(SUM(tscore) AS DOUBLE), 6) AS score
      FROM scored GROUP BY doc_id
    )
    SELECT * FROM (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
             doc_id, dl, n_terms, score
      FROM agg JOIN dl USING (doc_id)
    ) WHERE rank <= 10 ORDER BY rank
    """,
)
def q113_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75): top-10 documents for
    the corpus-derived 8-term query (most document-frequent terms with
    2 ≤ df ≤ N/2 — unique (df DESC, term) selection order). The idf
    keeps the rational Robertson form (N−df+0.5)/(df+0.5) — the same
    ranking as the log form without libm — and per-term scores sum as
    DECIMAL(28,12), so the value-hash is engine-stable.

    Scale shape (:func:`..operators.retrieval.bm25_topk`): postings
    stats are two uniform-key aggs; query terms broadcast; scoring
    touches only matching postings (broadcast semi-join prunes first);
    top-k is a TakeOrdered. No corpus-wide shuffle reaches scoring."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.retrieval import bm25_topk

    return bm25_topk(docs, n_query_terms=8, k=10)


@register(
    "q131_robust_outliers",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) - 1 AS idx,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
    ),
    stats AS (
      SELECT lang,
             MAX(CASE WHEN idx = (n - 1) // 4 THEN n_chars END) AS q1,
             MAX(CASE WHEN idx = (n - 1) // 2 THEN n_chars END) AS med,
             MAX(CASE WHEN idx = (3 * (n - 1)) // 4 THEN n_chars END) AS q3
      FROM ranked GROUP BY lang
    )
    SELECT r.doc_id, r.lang, r.n_chars, s.q1, s.med, s.q3,
           CAST(CASE WHEN 2 * r.n_chars > 2 * s.q3 + 3 * (s.q3 - s.q1)
                THEN 1 ELSE 0 END AS INTEGER) AS is_outlier
    FROM ranked r JOIN stats s USING (lang)
    ORDER BY doc_id
    """,
)
def q131_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language robust outlier flagging via the GROUPED-MAP API
    (``applyInPandas`` — the batch sibling of q51's stateful variant):
    each language group computes its exact q1/median/q3 as order-
    statistic ELEMENTS (0-based sorted indices (n−1)//4 etc. — no
    interpolation, so everything stays integral) and flags docs over
    the integral Tukey fence 2·x > 2·q3 + 3·(q3−q1).

    The oracle rebuilds the identical statistics with a row_number
    window — a completely different mechanism, so the hash pins the
    pandas path's semantics. Scale: one shuffle on the uniform lang
    key; each group sorts only itself (per-stratum bound); Arrow
    moves the batches, no per-row Python."""
    from ..operators.text import robust_outlier_spec

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    schema, fn = robust_outlier_spec()
    return docs.groupBy("lang").applyInPandas(fn, schema=schema).orderBy("doc_id")


# --------------------------------------------------------------- q162
# Lexical diversity: type-token ratio + hapax share — the vocabulary-
# richness quality signals (template spam scores low TTR, gibberish
# scores near-1.0 hapax). Exact integer ppm both sides.


@register(
    "q162_lexical_diversity",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_WORDS}) AS w FROM documents
    ), pw AS (
      SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(CAST(count(*) AS BIGINT) * 1000000
             // CAST(sum(c) AS BIGINT) AS BIGINT) AS ttr_ppm,
           CAST(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
             // CAST(count(*) AS BIGINT) AS BIGINT) AS hapax_ppm
    FROM pw GROUP BY doc_id ORDER BY doc_id
    """,
)
def q162_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document type-token ratio and hapax-legomena share in exact
    integer ppm, with the underlying token/type/hapax counts.

    Scale shape: one explode + two map-side-combining aggregations on
    the uniform (doc, word) / doc keys; per-group state is bounded by
    one document's vocabulary. See operators/text.py:
    lexical_diversity."""
    from ..operators.text import lexical_diversity

    docs = load_table(spark, sf_dir, "documents")
    return lexical_diversity(docs, "doc_id", "text").orderBy("doc_id")


# --------------------------------------------------------------- q163
# Cross-source overlap audit: for every pair of sources, how many
# distinct 4-word windows they share — the dataset-level contamination
# check run before mixing corpora (a high containment ppm means one
# source largely restates another and the mixture over-weights it).

_OVL_W = 4
# the 4-word-window md5 BIGINT lane lives in
# operators/text.py::source_overlap (round 10) — q163 and q190 both
# call it, so the two overlap views hash the identical window string


@register(
    "q163_source_overlap",
    oracle=f"""
    WITH w AS (
      SELECT source, {_WORDS} AS __w FROM documents
    ), g AS (
      SELECT DISTINCT source,
             CAST(concat('0x', substring(md5(
               array_to_string(list_slice(__w, i, i + {_OVL_W - 1}), ' ')
             ), 1, 15)) AS BIGINT) AS gram
      FROM w, unnest(generate_series(1, len(__w) - {_OVL_W - 1})) AS t(i)
    ), tot AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY source
    ), sh AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS shared_grams
      FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT sh.src_a, sh.src_b, sh.shared_grams,
           ta.n_grams AS grams_a, tb.n_grams AS grams_b,
           CAST(sh.shared_grams * 1000000
             // least(ta.n_grams, tb.n_grams) AS BIGINT) AS containment_ppm
    FROM sh
    JOIN tot ta ON ta.source = sh.src_a
    JOIN tot tb ON tb.source = sh.src_b
    ORDER BY src_a, src_b
    """,
)
def q163_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap audit: distinct shared 4-word windows
    per source pair, each side's window vocabulary size, and the
    containment of the smaller side in exact integer ppm.

    Scale shape (round 7, VERDICT r6 #6): ONE aggregation collapses
    the gram fan-out straight to per-gram source sets — the gram rides
    as a BIGINT md5 lane from birth (both engines hash the same window
    string identically, so distinct counts stay exact while the
    fan-out shuffles 8-byte keys, not ~25-char strings), and
    ``collect_set`` dedups map-side, so the former separate
    ``distinct()`` shuffle is gone and the checkpointed index holds
    ONE ROW PER DISTINCT GRAM (bounded by the source domain, 20 here)
    instead of one per (source, gram) — the 10×-curve growth driver
    shrank by the average source multiplicity. Per-source totals
    explode the sets (hapax rows included — they count toward the
    containment denominators); pair generation filters to multi-source
    sets only, so hapax grams never reach the pair explode — the
    corpus is never self-joined (the oracle's gram⋈gram is the
    oracle's affordance, not the plan). Output is O(sources²) rows.

    Round 10 (VERDICT r9 #4): the pipeline lives in
    operators/text.py::source_overlap — ``top_n=None`` is this exact
    audit; a 100 TB caller passes ``top_n=N`` to get q190's bounded
    index from the same operator."""
    from ..operators.text import source_overlap

    docs = load_table(spark, sf_dir, "documents")
    return source_overlap(docs, "doc_id", "text", "source", window=_OVL_W, top_n=None)


# --------------------------------------------------------------- q164
# Mixture concentration: how evenly the corpus's token mass is spread
# across sources — top-source share, Herfindahl (HHI) and Gini, all as
# exact integer ppm. The one-row datasheet number reviewers quote when
# a "diverse" corpus is actually 60% one crawl.


@register(
    "q164_mixture_concentration",
    oracle=f"""
    WITH per_src AS (
      SELECT source, CAST(sum({_N_WORDS}) AS BIGINT) AS tok
      FROM documents GROUP BY source
    ), ranked AS (
      SELECT source, tok,
             CAST(ROW_NUMBER() OVER (ORDER BY tok, source) AS BIGINT) AS i
      FROM per_src
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(tok) AS BIGINT) AS total,
             CAST(max(tok) AS BIGINT) AS max_tok,
             CAST(sum(i * tok) AS BIGINT) AS s_i
      FROM ranked
    ), shares AS (
      SELECT CAST(sum((r.tok * 1000000 // t.total) * (r.tok * 1000000 // t.total))
               // 1000000 AS BIGINT) AS hhi_ppm
      FROM ranked r CROSS JOIN tot t
    )
    SELECT t.n AS n_sources, t.total AS total_tokens,
           CAST(t.max_tok * 1000000 // t.total AS BIGINT) AS top_share_ppm,
           s.hhi_ppm,
           CAST((2 * t.s_i - (t.n + 1) * t.total) * 1000000
             // (t.n * t.total) AS BIGINT) AS gini_ppm
    FROM tot t CROSS JOIN shares s
    """,
)
def q164_mixture_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row mixture-concentration report over source token mass:
    source count, total whitespace tokens, top-source share, HHI and
    Gini — every number an exact integer (shares quantized to ppm
    BEFORE squaring/summing, so no float order-dependence).

    Scale shape: one map-side-combining aggregation on the
    low-cardinality source key; everything after operates on
    O(sources) rows (the rank window sorts 20 rows, not the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        docs.select("source", F.expr("size(split(trim(lower(text)), '\\\\s+'))").alias("nw"))
        .groupBy("source")
        .agg(F.sum("nw").cast("long").alias("tok"))
    )
    ranked = per_src.select(
        "source",
        "tok",
        F.row_number().over(Window.orderBy("tok", "source")).cast("long").alias("i"),
    )
    tot = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("tok").cast("long").alias("total"),
        F.max("tok").cast("long").alias("max_tok"),
        F.sum(F.col("i") * F.col("tok")).cast("long").alias("s_i"),
    )
    shares = (
        ranked.crossJoin(F.broadcast(tot))
        .select(F.expr("tok * 1000000 div total").alias("sp"))
        .agg(F.expr("CAST(sum(sp * sp) div 1000000 AS BIGINT)").alias("hhi_ppm"))
    )
    return (
        tot.crossJoin(F.broadcast(shares))
        .select(
            F.col("n").alias("n_sources"),
            F.col("total").alias("total_tokens"),
            F.expr("max_tok * 1000000 div total").alias("top_share_ppm"),
            "hhi_ppm",
            F.expr(
                "(2 * s_i - (n + 1) * total) * 1000000 div (n * total)"
            ).alias("gini_ppm"),
        )
    )


# --------------------------------------------------------------- q165
# Retrieval-quality evaluation: the measurement loop over the BM25
# ranker — pair the top eligible terms into two-term queries, rank
# each, and score hits/precision/recall/MRR@10 against the exact
# AND-relevance set. Reciprocal rank is rational, so (unlike nDCG's
# log2) every metric is an exact integer ppm both engines compute
# bit-identically.

from ..operators.retrieval import BM25_TSCORE_SQL as _TSCORE


@register(
    "q165_retrieval_metrics",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_WORDS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    s AS (SELECT CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
    qt8 AS (
      SELECT term, df, ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rn
      FROM dfreq, n WHERE df * 2 <= n_docs AND df >= 2
      ORDER BY df DESC, term LIMIT 8
    ),
    qt AS (SELECT term, df, CAST((rn + 1) // 2 AS BIGINT) AS query_id FROM qt8),
    nq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS nq FROM qt GROUP BY query_id),
    scored AS (
      SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
             ROUND(CAST(SUM(tscore) AS DOUBLE), 6) AS score
      FROM (
        SELECT qt.query_id, tf.doc_id, {{tscore}} AS tscore
        FROM tf JOIN qt USING (term) JOIN dl USING (doc_id), n, s
      ) GROUP BY query_id, doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id) AS BIGINT) AS rank
      FROM scored
    ),
    rel AS (
      SELECT s.query_id, s.doc_id FROM scored s JOIN nq USING (query_id)
      WHERE s.n_terms = nq.nq
    ),
    relc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_relevant FROM rel GROUP BY query_id),
    hits AS (
      SELECT r.query_id, r.rank FROM ranked r JOIN rel USING (query_id, doc_id)
      WHERE r.rank <= 10
    ),
    hm AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS hits_at_k,
             CAST(min(rank) AS BIGINT) AS first_rel_rank
      FROM hits GROUP BY query_id
    )
    SELECT nq.query_id, nq.nq AS n_query_terms_q,
           CAST(COALESCE(relc.n_relevant, 0) AS BIGINT) AS n_relevant,
           CAST(COALESCE(hm.hits_at_k, 0) AS BIGINT) AS hits_at_k,
           CAST(COALESCE(hm.hits_at_k, 0) * 1000000 // 10 AS BIGINT) AS p_at_k_ppm,
           CAST(COALESCE(hm.hits_at_k, 0) * 1000000
             // greatest(COALESCE(relc.n_relevant, 0), 1) AS BIGINT) AS recall_at_k_ppm,
           CAST(COALESCE(hm.first_rel_rank, 0) AS BIGINT) AS first_rel_rank,
           CAST(CASE WHEN hm.first_rel_rank IS NULL THEN 0
                ELSE 1000000 // hm.first_rel_rank END AS BIGINT) AS mrr_ppm
    FROM nq
    LEFT JOIN relc USING (query_id)
    LEFT JOIN hm USING (query_id)
    ORDER BY query_id
    """.replace("{tscore}", _TSCORE),
)
def q165_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hits/precision/recall/MRR@10 for four two-term BM25 queries
    against the exact both-terms-present relevance set — the retrieval
    evaluation a pipeline runs before trusting a ranker to mine
    domain documents. Every metric is an exact integer ppm.

    Scale shape: postings stats are the q113 aggregations; per-query
    top-10 is the SALTED two-phase window (rank inside (query,
    xxhash64(doc) % 64) first, then over the <= 64·k survivors) —
    a one-phase per-query window would funnel up to half the corpus
    (df <= N/2) into one partition at 100 TB. See
    operators/retrieval.py:bm25_eval."""
    from ..operators.retrieval import bm25_eval

    docs = load_table(spark, sf_dir, "documents")
    return bm25_eval(docs, n_query_terms=8, k=10).orderBy("query_id")


# --------------------------------------------------------------- q166
# Batched model-inference rerank: the execution pattern for running a
# scoring model over a candidate sliver — mapInPandas, Arrow batches,
# weights shipped once via sparkContext.broadcast, model constructed
# once per partition. The model is a REAL (small) linear
# cross-encoder: hashed (query term × doc word) interaction features
# against the q95 weight formula's materialized int64 table, in exact
# integer arithmetic, so the oracle replays every logit bit-for-bit.
# The round-5 md5 fake remains behind rerank_with_model(model="fake").


def _q166_oracle() -> str:
    from . import REGISTRY
    from ..operators.inference import CE_MAX_DOC_WORDS, CE_N_BUCKETS

    bm25 = "(" + REGISTRY["q113_bm25_topk"].oracle + ")"
    w_expr = (
        f"((CAST(concat('0x', substring(md5(concat(term, ' ', w)), 1, 8)) AS BIGINT)"
        f" % {CE_N_BUCKETS}) * 2654435761) % 2003 - 1001"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ),
    dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df
      FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    qt AS (
      SELECT term FROM dfreq, n
      WHERE df * 2 <= n_docs AND df >= 2
      ORDER BY df DESC, term LIMIT 8
    ),
    top10 AS (
      SELECT rank AS bm25_rank, doc_id FROM {bm25}
    ),
    dw AS (
      SELECT t.doc_id, t.bm25_rank,
             list_slice(regexp_split_to_array(trim(lower(d.text)), '\\s+'),
                        1, {CE_MAX_DOC_WORDS}) AS ws
      FROM top10 t JOIN documents d USING (doc_id)
    ),
    pf AS (
      SELECT dw.doc_id, dw.bm25_rank, q.term, unnest(dw.ws) AS w
      FROM dw, qt q
    ),
    scored AS (
      SELECT doc_id, bm25_rank, CAST(SUM({w_expr}) AS BIGINT) AS ce_score
      FROM pf GROUP BY doc_id, bm25_rank
    ),
    reranked AS (
      SELECT doc_id, bm25_rank, ce_score,
             CAST(ROW_NUMBER() OVER (ORDER BY ce_score DESC, doc_id) AS BIGINT) AS ce_rank
      FROM scored
    )
    SELECT doc_id, bm25_rank, ce_score, ce_rank,
           CAST(bm25_rank - ce_rank AS BIGINT) AS rank_delta
    FROM reranked ORDER BY ce_rank
    """


@register("q166_inference_rerank", oracle=_q166_oracle())
def q166_inference_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rerank the BM25 top-10 with the Arrow-batched linear
    cross-encoder: candidate sliver joined back to its JVM-tokenized
    word array, scored via ``mapInPandas`` with the once-per-partition
    model reading the broadcast (weights, query terms), windowed into
    the new order (plus the promotion/demotion delta against the BM25
    rank).

    Scale shape: the query-term derivation is materialized once and
    shared with the BM25 stage (one corpus dfreq pass, not two);
    inference touches ONLY the candidate sliver — the corpus is
    scanned once for the broadcast id equi-join and never shuffled;
    batches cross to Python as Arrow frames; the rerank window covers
    k rows. See operators/inference.py."""
    from ..operators.inference import rerank_with_model
    from ..operators.retrieval import bm25_query_terms, bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    qt = materialize(
        bm25_query_terms(docs, n_query_terms=8),
        label="bm25_query_terms",
        default="checkpoint",
    )
    top10 = bm25_topk(docs, k=10, query_terms=qt)
    return rerank_with_model(top10, docs, query_terms=qt).orderBy("ce_rank")


# --------------------------------------------------------------- q169
# Language-ID evaluation: the confusion matrix of the q37 n-gram
# classifier against the table's labeled lang column — the check a
# pipeline runs before trusting a language gate to route documents
# (a silent systematic confusion, e.g. es->fr, skews the mixture).


@register(
    "q169_langid_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang, {_LANG_PRED} AS lang_pred FROM documents
    ),
    cm AS (
      SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
      FROM pred GROUP BY lang, lang_pred
    ),
    tot AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_total FROM cm GROUP BY lang)
    SELECT cm.lang, cm.lang_pred, cm.n_docs, tot.lang_total,
           CAST(cm.n_docs * 1000000 // tot.lang_total AS BIGINT) AS share_ppm,
           CAST(CASE WHEN cm.lang = cm.lang_pred THEN 1 ELSE 0 END AS INTEGER) AS is_correct
    FROM cm JOIN tot USING (lang)
    ORDER BY lang, lang_pred
    """,
)
def q169_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-hit language classifier vs the
    labeled lang column: per (label, prediction) the doc count, the
    label total, the row share in exact ppm and the diagonal flag.

    Scale shape: one narrow classification projection + one
    map-side-combining aggregation on the tiny (lang, lang_pred)
    domain; the per-label totals re-aggregate the matrix itself
    (O(langs²) rows), never the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select("lang", language_id("text").alias("lang_pred"))
    cm = pred.groupBy("lang", "lang_pred").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    tot = cm.groupBy("lang").agg(F.sum("n_docs").cast("long").alias("lang_total"))
    return (
        cm.join(tot, "lang")
        .select(
            "lang",
            "lang_pred",
            "n_docs",
            "lang_total",
            F.expr("n_docs * 1000000 div lang_total").alias("share_ppm"),
            (F.col("lang") == F.col("lang_pred")).cast("int").alias("is_correct"),
        )
        .orderBy("lang", "lang_pred")
    )


# --------------------------------------------------------------- q170
# Multi-signal curation blending: rank-normalize two quality signals
# (composite quality score, type-token ratio) to exact ppm percentile
# ranks and select the top 50 by the blended score. Rank-normalizing
# before blending is how production curation combines signals with
# incomparable scales; the ranking itself uses the scale-safe
# two-phase distributed rank (operators/ranking.py), never a
# partition-less window.

_BLEND_K = 50


def _q170_oracle() -> str:
    from . import REGISTRY

    lex = "(" + REGISTRY["q162_lexical_diversity"].oracle + ")"
    return f"""
    WITH lex AS (SELECT doc_id, ttr_ppm FROM {lex}),
    feat AS (
      SELECT doc_id, CAST(floor({_SCORE} * 1000000 + 0.5) AS BIGINT) AS qs6
      FROM documents
    ),
    j AS (SELECT f.doc_id, f.qs6, l.ttr_ppm FROM feat f JOIN lex l USING (doc_id)),
    r AS (
      SELECT doc_id, qs6, ttr_ppm,
             CAST(ROW_NUMBER() OVER (ORDER BY qs6, doc_id) AS BIGINT) AS q_rank,
             CAST(ROW_NUMBER() OVER (ORDER BY ttr_ppm, doc_id) AS BIGINT) AS d_rank,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM j
    ),
    b AS (
      SELECT doc_id, qs6, ttr_ppm, q_rank, d_rank,
             CAST(((q_rank - 1) * 1000000 // greatest(n - 1, 1)
                 + (d_rank - 1) * 1000000 // greatest(n - 1, 1)) // 2 AS BIGINT)
               AS blended_ppm
      FROM r
    )
    SELECT * FROM (
      SELECT b.*, CAST(ROW_NUMBER() OVER (ORDER BY blended_ppm DESC, doc_id) AS BIGINT) AS sel_rank
      FROM b
    ) WHERE sel_rank <= {_BLEND_K} ORDER BY sel_rank
    """


@register("q170_signal_blend", oracle=_q170_oracle())
def q170_signal_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 documents by the blend of two rank-normalized signals:
    the composite quality score and the type-token ratio, each turned
    into an exact ppm percentile rank (unique (value, doc_id) order)
    and averaged with integer arithmetic.

    Scale shape: each global rank is the two-phase bucket-offset rank
    (operators/ranking.py::distributed_rank — one bucket histogram,
    one tiny offset window, one WITHIN-bucket window), because a
    partition-less ROW_NUMBER window would sort the corpus in one
    task; the oracle runs the single window the operator must equal.
    Selection is orderBy+limit (TakeOrdered), not a global sort."""
    from . import REGISTRY
    from ..operators.ranking import distributed_rank

    docs = load_table(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id",
        quality_features("text").alias("q"),
    ).select(
        "doc_id",
        F.expr("CAST(floor(q.quality_score * 1000000 + 0.5) AS BIGINT)").alias("qs6"),
    )
    lex = REGISTRY["q162_lexical_diversity"].fn(spark, sf_dir).select(
        "doc_id", "ttr_ppm"
    )
    # each rank phase consumes its input twice (value histogram +
    # broadcast-plan join) and the second phase stacks on the first, so
    # without lineage cuts the signal join would evaluate 4×. Both
    # staged frames are ONE ROW PER DOCUMENT (3-4 integers wide) —
    # corpus-ROW scale, not candidate slivers — so they default to the
    # parquet boundary per the staging rule (r8, the same
    # reclassification bigram_lm_tokens/repetition_tokens got: at
    # 100 TB an executor loss must not restart the feature extraction
    # + rank pipeline; the narrow write is cheap)
    j = materialize(
        feat.join(lex, "doc_id"), label="q170_signal_join", default="parquet"
    )
    r = materialize(
        distributed_rank(j, "qs6", "doc_id", rank_name="q_rank"),
        label="q170_q_rank",
        default="parquet",
    )
    r = distributed_rank(r, "ttr_ppm", "doc_id", rank_name="d_rank")
    n = j.agg(F.count("*").cast("long").alias("n"))
    b = r.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "qs6",
        "ttr_ppm",
        "q_rank",
        "d_rank",
        F.expr(
            "CAST(((q_rank - 1) * 1000000 div greatest(n - 1, 1)"
            " + (d_rank - 1) * 1000000 div greatest(n - 1, 1)) div 2 AS BIGINT)"
        ).alias("blended_ppm"),
    )
    top = b.orderBy(F.desc("blended_ppm"), F.asc("doc_id")).limit(_BLEND_K)
    w = Window.orderBy(F.desc("blended_ppm"), F.asc("doc_id"))
    return top.withColumn("sel_rank", F.row_number().over(w).cast("long")).orderBy(
        "sel_rank"
    )


# --------------------------------------------------------------- q153
# Corpus datasheet: the per-source release statistics every published
# training corpus ships (a "datasheets for datasets" summary) — doc and
# token volume, language spread with the modal language, exact-dup
# count, and mean quality as exact integer ppm (per-row scores are
# floor(x*1e6+0.5)-quantized BEFORE the mean so no float summation
# order can shift the result).

def _q153_oracle() -> str:
    from .dedup import _NORM_DUCK

    toks = f"CAST(greatest({_N_WORDS}, CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT)"
    return f"""
    WITH f AS (
      SELECT source, lang, n_chars,
             {toks} AS n_tok,
             CAST(floor({_SCORE} * 1000000 + 0.5) AS BIGINT) AS qs6,
             md5({_NORM_DUCK}) AS ch
      FROM documents
    ), base AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             CAST(sum(n_tok) AS BIGINT) AS total_tokens,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(*) - count(DISTINCT ch) AS BIGINT) AS n_exact_dups,
             CAST(sum(qs6) // count(*) AS BIGINT) AS mean_quality_ppm
      FROM f GROUP BY source
    ), tl AS (
      SELECT source, lang AS top_lang FROM (
        SELECT source, lang,
               ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY count(*) DESC, lang) AS rn
        FROM documents GROUP BY source, lang
      ) WHERE rn = 1
    )
    SELECT b.source, b.n_docs, b.total_chars, b.total_tokens, b.n_langs,
           t.top_lang, b.n_exact_dups, b.mean_quality_ppm
    FROM base b JOIN tl t USING (source)
    ORDER BY b.source
    """


@register("q153_corpus_datasheet", oracle=_q153_oracle())
def q153_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus datasheet: doc/char/token volume, language
    spread + modal language, exact-duplicate count (docs minus distinct
    normalized contents), and mean quality in exact integer ppm.

    Scale shape: two aggregations on the low-cardinality source key
    (and one on (source, lang)) — all map-side combining with group
    counts bounded by the source/lang domains, not the corpus; the
    modal-language pick windows over the tiny aggregate."""
    from .dedup import _NORM_SPARK

    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "source",
        "lang",
        "n_chars",
        token_count("text")["n_tokens_est"].cast("bigint").alias("n_tok"),
        quality_features("text")["quality_score"].alias("qs"),
        F.md5(F.expr(_NORM_SPARK)).alias("ch"),
    ).select(
        "source",
        "lang",
        "n_chars",
        "n_tok",
        F.expr("CAST(floor(qs * 1000000 + 0.5) AS BIGINT)").alias("qs6"),
        "ch",
    )
    base = f.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        (F.count("*") - F.countDistinct("ch")).cast("bigint").alias("n_exact_dups"),
        F.expr("CAST(sum(qs6) div count(*) AS BIGINT)").alias("mean_quality_ppm"),
    )
    by_lang = docs.groupBy("source", "lang").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("lang"))
    tl = (
        by_lang.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return (
        base.join(tl, "source")
        .select(
            "source", "n_docs", "total_chars", "total_tokens", "n_langs",
            "top_lang", "n_exact_dups", "mean_quality_ppm",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------- q176
# Zipf rank-frequency audit: the head of the corpus token distribution
# (top 20 terms with exact ppm shares and cumulative head mass) plus
# vocabulary-shape scalars (vocab size, hapax share of the vocab,
# total tokens). The corpus-statistics sanity check a pipeline runs
# before tokenizer training — a head that is too heavy (boilerplate
# floods) or a hapax share that is too large (OCR noise, encoding
# damage) both show up here before they poison a BPE vocabulary.


@register(
    "q176_zipf_audit",
    oracle="""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT term, CAST(count(*) AS BIGINT) AS n_occ FROM toks GROUP BY term),
    tot AS (
      SELECT CAST(sum(n_occ) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab_size,
             CAST(SUM(CASE WHEN n_occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_vocab
      FROM tf
    ),
    top AS (SELECT term, n_occ FROM tf ORDER BY n_occ DESC, term LIMIT 20),
    r AS (
      SELECT term, n_occ,
             CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, term) AS BIGINT) AS rank,
             CAST(SUM(n_occ) OVER (ORDER BY n_occ DESC, term
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM top
    )
    SELECT rank, term, n_occ,
           CAST(n_occ * 1000000 // n_tokens AS BIGINT) AS share_ppm,
           CAST(cum * 1000000 // n_tokens AS BIGINT) AS cum_share_ppm,
           vocab_size, hapax_vocab, n_tokens
    FROM r, tot ORDER BY rank
    """,
)
def q176_zipf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus terms by occurrence (rank, exact ppm share,
    cumulative head mass) joined with the vocabulary-shape scalars
    (vocab size, hapax-term count, total tokens).

    Scale shape: ONE map-side-combining term count (uniform term
    keys), top-k via orderBy+limit (TakeOrderedAndProject, never a
    global sort), the rank/cumsum windows run over the 20 survivors,
    and the scalar aggregate broadcast-joins on. Exact integer ppm
    throughout."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.expr("split(trim(lower(text)), '\\\\s+')")).alias("term")
    )
    tf = toks.groupBy("term").agg(F.count("*").cast("long").alias("n_occ"))
    tot = tf.agg(
        F.sum("n_occ").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab_size"),
        F.sum(F.when(F.col("n_occ") == 1, 1).otherwise(0))
        .cast("long")
        .alias("hapax_vocab"),
    )
    top = tf.orderBy(F.desc("n_occ"), F.asc("term")).limit(20)
    w = Window.orderBy(F.desc("n_occ"), F.asc("term"))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("cum", F.sum("n_occ").over(wc).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "term",
            "n_occ",
            F.expr("n_occ * 1000000 div n_tokens").alias("share_ppm"),
            F.expr("cum * 1000000 div n_tokens").alias("cum_share_ppm"),
            "vocab_size",
            "hapax_vocab",
            "n_tokens",
        )
        .orderBy("rank")
    )


# --------------------------------------------------------------- q180
# Corpus-fitted bigram-LM fluency score — the CCNet perplexity-filter
# pattern (score every document under an n-gram model trained on the
# corpus; low scores flag boilerplate/gibberish) in exact integer
# arithmetic: cond_ppm = floor(c(w1 w2)·10⁶ / c(w1 prefix)), per-doc
# score = integer mean over the doc's bigrams. See
# operators/text.py::bigram_lm_scores for the 100 TB shape.


@register(
    "q180_bigram_lm_score",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_WORDS} AS __w FROM documents
    ),
    bi AS (
      SELECT doc_id,
             CAST(concat('0x', substring(md5(concat(__w[i], ' ', __w[i + 1])), 1, 15)) AS BIGINT) AS bkey,
             CAST(concat('0x', substring(md5(__w[i]), 1, 15)) AS BIGINT) AS pkey
      FROM w, unnest(generate_series(1, len(__w) - 1)) AS t(i)
      WHERE len(__w) >= 2
    ),
    c2 AS (
      SELECT bkey, MIN(pkey) AS pkey, CAST(count(*) AS BIGINT) AS c2
      FROM bi GROUP BY bkey
    ),
    c1 AS (SELECT pkey, CAST(count(*) AS BIGINT) AS c1 FROM bi GROUP BY pkey),
    cond AS (SELECT bkey, c2 * 1000000 // c1 AS cond_ppm FROM c2 JOIN c1 USING (pkey)),
    scored AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(cond_ppm) // count(*) AS BIGINT) AS lm_score_ppm
      FROM bi JOIN cond USING (bkey) GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.n_bigrams, 0) AS n_bigrams,
           s.lm_score_ppm
    FROM documents d LEFT JOIN scored s USING (doc_id)
    ORDER BY doc_id
    """,
)
def q180_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency score per document: train the corpus's own
    bigram conditional-probability table (MLE, exact integer ppm) and
    score each doc by the mean conditional probability of its word
    transitions — the quality gate that catches shuffled-word and
    template text that length/stopword features miss. Every doc gets
    a row (short docs: 0 bigrams, NULL score), so the q78 per-doc
    profile join stays total."""
    from ..operators.text import bigram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_scores(docs, "doc_id", "text").orderBy("doc_id")


# --------------------------------------------------------------- q182
# Gopher/MassiveText repetition filters (Rae et al. 2021 §A1.1) in
# exact integer ppm: documents dominated by one word, one bigram, or
# literal consecutive runs are boilerplate/spam that length and
# stopword features miss. See operators/text.py::repetition_audit.


@register(
    "q182_repetition_audit",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_WORDS} AS __w FROM documents
    ),
    toks AS (
      SELECT doc_id, unnest(__w) AS w, generate_subscripts(__w, 1) AS pos FROM w
    ),
    wc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY doc_id, w),
    topw AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
             CAST(MAX(c) AS BIGINT) AS top_word_n
      FROM wc GROUP BY doc_id
    ),
    bi AS (
      SELECT doc_id,
             CAST(concat('0x', substring(md5(concat(__w[i], ' ', __w[i + 1])), 1, 15)) AS BIGINT) AS bkey
      FROM w, unnest(generate_series(1, len(__w) - 1)) AS t(i)
      WHERE len(__w) >= 2
    ),
    bc AS (SELECT doc_id, bkey, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY doc_id, bkey),
    topb AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             CAST(MAX(c) AS BIGINT) AS top2gram_n
      FROM bc GROUP BY doc_id
    ),
    runs AS (
      SELECT doc_id, CAST(MAX(run_len) AS BIGINT) AS max_word_run FROM (
        SELECT doc_id, w, grp, count(*) AS run_len FROM (
          SELECT doc_id, w, pos,
                 pos - ROW_NUMBER() OVER (PARTITION BY doc_id, w ORDER BY pos) AS grp
          FROM toks
        ) GROUP BY doc_id, w, grp
      ) GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(t.n_words, 0) AS n_words,
           CAST(t.top_word_n * 1000000 // t.n_words AS BIGINT) AS top_word_share_ppm,
           COALESCE(b.n_bigrams, 0) AS n_bigrams,
           CAST(b.top2gram_n * 1000000 // b.n_bigrams AS BIGINT) AS top2gram_share_ppm,
           COALESCE(r.max_word_run, 0) AS max_word_run
    FROM documents d
    LEFT JOIN topw t USING (doc_id)
    LEFT JOIN topb b USING (doc_id)
    LEFT JOIN runs r USING (doc_id)
    ORDER BY doc_id
    """,
)
def q182_repetition_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition audit: most-frequent-word share,
    most-frequent-bigram share (exact integer ppm) and longest
    consecutive same-word run — the Gopher repetition rules a quality
    gate applies alongside the q37/q95/q180 signals. The run detection
    is gaps-and-islands over (doc, word) windows, bounded by a single
    document; the Spark grp key is 0-based-pos − row_number and the
    oracle's 1-based — a constant per-partition offset, so the run
    GROUPS (and all counts) are identical."""
    from ..operators.text import repetition_audit

    docs = load_table(spark, sf_dir, "documents")
    return repetition_audit(docs, "doc_id", "text").orderBy("doc_id")


# --------------------------------------------------------------- q186
# C4-style line-level cleaning (Raffel et al. 2020 §2.2) — the
# line-filter pass every crawled-web pipeline runs before document-
# level signals: drop lines that are too short, lack terminal
# punctuation, or carry boilerplate phrases. The testdata text has no
# line structure, so the query synthesizes it deterministically from
# the word stream (7-word lines; punctuation by (doc_id + line) % 3 —
# '.' / '!' / none — and a "cookie policy" boilerplate line prepended
# to every 31st doc), exercising all three drop rules for real; both
# engines build the identical string and replay the identical filter,
# so every count and the cleaned-text digest is value-pinned.

# the split is BOUND ONCE via the single-element-array lambda (round
# 10): the inline form re-ran the O(L) split per 7-word block inside
# the interpreted transform lambda — O(L²/7)/doc (same fix as
# quality_classifier_score)
_C4_LINE_SPARK = """CASE WHEN doc_id % 31 = 0
  THEN concat('please accept our cookie policy terms.', '\\n', {j})
  ELSE {j} END""".format(
    j="""transform(array({w}), ws ->
  array_join(transform(sequence(0, CAST(ceil(size(ws) / 7.0) AS INT) - 1),
  b -> concat(array_join(slice(ws, b * 7 + 1, 7), ' '),
              CASE CAST((doc_id + b) % 3 AS INT) WHEN 0 THEN '.'
                   WHEN 1 THEN '!' ELSE '' END)), '\\n'))[0]""".format(
        w="split(trim(lower(text)), '\\\\s+')"
    )
)

_C4_LINE_DUCK = """CASE WHEN doc_id % 31 = 0
  THEN 'please accept our cookie policy terms.' || chr(10) || {j}
  ELSE {j} END""".format(
    j="""array_to_string(list_transform(generate_series(0, CAST(ceil(len({w}) / 7.0) AS INT) - 1),
  b -> array_to_string(list_slice({w}, b * 7 + 1, b * 7 + 7), ' ') ||
       CASE CAST((doc_id + b) % 3 AS INT) WHEN 0 THEN '.'
            WHEN 1 THEN '!' ELSE '' END), chr(10))""".format(
        w="regexp_split_to_array(trim(lower(text)), '\\s+')"
    )
)

_C4_BAD_DUCK = (
    "(contains(lower(ln), 'lorem ipsum') OR contains(lower(ln), 'javascript')"
    " OR contains(lower(ln), 'cookie policy'))"
)
_C4_PUNCT_DUCK = (
    "(ends_with(trim(ln), '.') OR ends_with(trim(ln), '!')"
    " OR ends_with(trim(ln), '?') OR ends_with(trim(ln), '\"'))"
)


def c4_profile_ctes(src: str) -> str:
    """The C4 line-verdict CTE chain (lined → verdicts → kept) over any
    relation ``src`` exposing (doc_id, t) — ONE copy of the DuckDB
    line-cleaning formula, shared by q186 and the q187 full funnel.
    ``kept`` yields (doc_id, lns, v, k) where k is the kept-line list.

    NULL-text contract (ADVICE r9): the Spark operator maps NULL text
    to an EMPTY document (0 lines, digest of ''), so the coalesce to
    an empty list is mirrored here — string_split(NULL) would
    propagate NULL through lns/v/k and a NULL-text fixture row would
    hash-mismatch the gate. NOTE: '' (empty string) still splits to
    one short dropped line in BOTH engines; only NULL is the empty
    document."""
    return f"""lined AS (
      SELECT doc_id, coalesce(string_split(t, chr(10)), []) AS lns FROM {src}
    ),
    verdicts AS (
      SELECT doc_id, lns,
             list_transform(lns, ln -> CASE
               WHEN len(regexp_split_to_array(trim(ln), '\\s+')) < 3
                    OR trim(ln) = '' THEN 1
               WHEN NOT {_C4_PUNCT_DUCK} THEN 2
               WHEN {_C4_BAD_DUCK} THEN 3 ELSE 0 END) AS v
      FROM lined
    ),
    kept AS (
      SELECT doc_id, lns, v,
             list_filter(list_transform(generate_series(1, len(lns)),
               i -> CASE WHEN v[i] = 0 THEN lns[i] END),
               x -> x IS NOT NULL) AS k
      FROM verdicts
    )"""


# the cleaned-text word count over kept.k — shared with the q187
# funnel's line_clean gate
_C4_CLEAN_WORDS_DUCK = """CASE WHEN len(k) = 0 THEN 0 ELSE
             len(regexp_split_to_array(trim(array_to_string(k, chr(10))), '\\s+'))
           END"""


@register(
    "q186_c4_line_filter",
    oracle=f"""
    WITH synth AS (
      SELECT doc_id, {_C4_LINE_DUCK} AS t FROM documents
    ),
    {c4_profile_ctes('synth')}
    SELECT doc_id,
           CAST(len(lns) AS BIGINT) AS n_lines,
           CAST(len(k) AS BIGINT) AS n_kept_lines,
           CAST(len(list_filter(v, x -> x = 1)) AS BIGINT) AS n_dropped_short,
           CAST(len(list_filter(v, x -> x = 2)) AS BIGINT) AS n_dropped_punct,
           CAST(len(list_filter(v, x -> x = 3)) AS BIGINT) AS n_dropped_phrase,
           CAST({_C4_CLEAN_WORDS_DUCK} AS BIGINT) AS cleaned_n_words,
           -- coalesce: DuckDB's array_to_string([], sep) is NULL, but
           -- Spark's array_join([], sep) is '' — an all-dropped (or
           -- NULL-text) doc must digest to md5('') in both engines
           md5(coalesce(array_to_string(k, chr(10)), '')) AS cleaned_digest
    FROM kept ORDER BY doc_id
    """,
)
def q186_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line filter over the synthesized line structure: per doc the
    line counts by drop reason (short / no terminal punct / bad
    phrase, first rule wins), the kept-line count, and the cleaned
    text's word count + md5 digest. A single narrow projection of JVM
    higher-order functions — no explode, no shuffle; see
    operators/text.py::c4_line_filter for the rules and shape."""
    from ..operators.text import c4_line_filter

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_C4_LINE_SPARK).alias("text")
    )
    return c4_line_filter(docs, "doc_id", "text").orderBy("doc_id")


# --------------------------------------------------------------- q188
# Interpolated trigram LM with Kneser–Ney-style backoff (VERDICT r8
# "Next round" #2) — the production shape of q180's CCNet filter
# (Wenzek et al. 2020 use a 5-gram KenLM; the bigram MLE is the toy).
# Absolute discount D = 1 keeps everything integer so DuckDB replays
# every ppm value; the discounted mass backs off through a bigram
# model into a continuation-count unigram. Formulas and the 100 TB
# shape: operators/text.py::trigram_lm_scores.

_LANE_DUCK = "CAST(concat('0x', substring(md5({x}), 1, 15)) AS BIGINT)"


@register(
    "q188_trigram_lm_score",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_WORDS} AS __w FROM documents
    ),
    tri AS (
      SELECT doc_id,
             {_LANE_DUCK.format(x="concat(__w[i], ' ', __w[i + 1], ' ', __w[i + 2])")} AS tkey,
             {_LANE_DUCK.format(x="concat(__w[i], ' ', __w[i + 1])")} AS p2key,
             {_LANE_DUCK.format(x="concat(__w[i + 1], ' ', __w[i + 2])")} AS b23key,
             {_LANE_DUCK.format(x="__w[i + 1]")} AS w2key,
             {_LANE_DUCK.format(x="__w[i + 2]")} AS w3key
      FROM w, unnest(generate_series(1, len(__w) - 2)) AS t(i)
      WHERE len(__w) >= 3
    ),
    c3 AS (
      SELECT tkey, MIN(p2key) AS p2key, MIN(b23key) AS b23key,
             CAST(count(*) AS BIGINT) AS c3
      FROM tri GROUP BY tkey
    ),
    p2s AS (
      SELECT p2key, CAST(count(*) AS BIGINT) AS c2p,
             CAST(count(DISTINCT tkey) AS BIGINT) AS n3t
      FROM tri GROUP BY p2key
    ),
    b23s AS (
      SELECT b23key, MIN(w2key) AS w2key, MIN(w3key) AS w3key,
             CAST(count(*) AS BIGINT) AS c2
      FROM tri GROUP BY b23key
    ),
    w2s AS (
      SELECT w2key, CAST(count(*) AS BIGINT) AS c1p,
             CAST(count(DISTINCT b23key) AS BIGINT) AS n2t
      FROM tri GROUP BY w2key
    ),
    w3s AS (
      SELECT w3key, CAST(count(DISTINCT b23key) AS BIGINT) AS nprec
      FROM tri GROUP BY w3key
    ),
    bt AS (SELECT CAST(count(DISTINCT b23key) AS BIGINT) AS btypes FROM tri),
    cond AS (
      SELECT tkey,
             (c3 - 1) * 1000000 // c2p
             + ((n3t * 1000000 // c2p) * (
                 (c2 - 1) * 1000000 // c1p
                 + ((n2t * 1000000 // c1p) * (nprec * 1000000 // btypes)) // 1000000
               )) // 1000000 AS p3_ppm
      FROM c3 JOIN p2s USING (p2key) JOIN b23s USING (b23key)
              JOIN w2s USING (w2key) JOIN w3s USING (w3key) CROSS JOIN bt
    ),
    scored AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
             CAST(SUM(p3_ppm) // count(*) AS BIGINT) AS kn_score_ppm
      FROM tri JOIN cond USING (tkey) GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.n_trigrams, 0) AS n_trigrams,
           s.kn_score_ppm
    FROM documents d LEFT JOIN scored s USING (doc_id)
    ORDER BY doc_id
    """,
)
def q188_trigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-trigram (KN-style D=1 backoff) fluency score per
    document, exact integer ppm: train the corpus's own trigram /
    bigram / continuation-unigram tables and score each doc by the
    mean interpolated probability of its word transitions. Every doc
    gets a row (short docs: 0 trigrams, NULL score) so the q78 per-doc
    profile join stays total."""
    return _kn_scores(spark, sf_dir).orderBy("doc_id")


# Shared trigram-score pass (the _sd_cells pattern from r8): q188 and
# q189 both consume the scored frame, and the q78 composite runs both —
# ONE training per (app, corpus) instead of re-deriving the five count
# tables per consumer. The scored frame is corpus-ROW-scale → parquet
# staging boundary per the staging rule.
def _kn_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.staging import materialize, memoized
    from ..operators.text import trigram_lm_scores

    return memoized(
        "kn_scores",
        spark,
        sf_dir,
        lambda: materialize(
            trigram_lm_scores(load_table(spark, sf_dir, "documents"), "doc_id", "text"),
            label="kn_scores",
            default="parquet",
        ),
    )


# --------------------------------------------------------------- q189
# Filter-agreement audit: a curation pipeline stacks independent
# quality filters (heuristic score, trained classifier, LM perplexity,
# repetition rules — the CCNet/Gopher/C4 stack this repo implements as
# q37/q95/q188/q182), and the tuning question is which filters are
# REDUNDANT vs COMPLEMENTARY: high agreement → one can be dropped or
# demoted to a cheap pre-filter; low agreement → they remove different
# failure modes and both earn their cost. Per ordered filter pair this
# reports raw agreement and Cohen's kappa (chance-corrected — two
# filters that both keep ~95% agree ~90% by chance alone), in exact
# integer ppm so DuckDB replays every value.
#
# Keep verdicts (each reusing the REGISTERED member's formula):
#   heur = q37 quality_score >= 0.68 (the q49 gate threshold)
#   clf  = q95 classifier keep (logit_sum > 0)
#   lm   = q188 kn_score_ppm >= corpus median (docs with no trigrams
#          drop); the median is exact via a HISTOGRAM running count —
#          scores are integers in [0, 10^6], so the histogram is
#          bounded at ~10^6 rows regardless of corpus size (the q170
#          skew-safe-rank lesson: never a global row sort at 100 TB)
#   rep  = q182 top_word_share_ppm < 300000 (Gopher's ~0.3 top-word
#          cap; zero-token docs drop)
#
# kappa = (po - pe) / (1 - pe) with pe from the ppm-rounded marginals;
# the negative branch is sign-split so Spark's truncating `div` and
# DuckDB's flooring `//` only ever divide non-negative integers.


_Q189_NAMES = ["clf", "heur", "lm", "rep"]


def _q189_frames(spark: SparkSession, sf_dir: str) -> dict:
    """The q189 stage frames (verdict projection, LM-median sliver, the
    single counting aggregation) — consumed by the query fn and exposed
    to tools/dump_plans.py (VERDICT r10 #7)."""
    from ..operators.text import (
        quality_classifier_score,
        top_word_share_ppm_expr,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the members' OPERATORS, not their registered fns — the fns end in
    # a per-member global orderBy the joins would immediately re-shuffle
    # away (measured: fn-reuse 9.5 s vs operator-reuse at sf0.1); the
    # formulas are identical and the oracle replays the members' SQL
    # heur + clf + rep in ONE scan/projection (round 10, VERDICT r9
    # #5: the rep verdict needs only the top-word share, which
    # top_word_share_ppm_expr computes as a pure projection —
    # value-identical to repetition_audit's column, pinned by test —
    # so the former repetition token staging + three-frame join chain
    # is gone and only the LM join remains)
    hc = docs.select(
        "doc_id",
        (quality_features("text").getField("quality_score") >= 0.68).alias(
            "keep_heur"
        ),
        quality_classifier_score("text").getField("keep").alias("keep_clf"),
        F.coalesce(top_word_share_ppm_expr("text") < 300000, F.lit(False)).alias(
            "keep_rep"
        ),
    )
    lm = _kn_scores(spark, sf_dir).select("doc_id", "kn_score_ppm")
    hist = (
        lm.where(F.col("kn_score_ppm").isNotNull())
        .groupBy("kn_score_ppm")
        .agg(F.count("*").alias("c"))
    )
    w = Window.orderBy("kn_score_ppm").rowsBetween(Window.unboundedPreceding, 0)
    med = (
        hist.withColumn("cum", F.sum("c").over(w))
        .crossJoin(F.broadcast(hist.agg(((F.sum("c") + 1) / 2).cast("long").alias("k"))))
        .where(F.col("cum") >= F.col("k"))
        .agg(F.min("kn_score_ppm").alias("med"))
    )
    base = (
        hc.join(lm, "doc_id")
        .crossJoin(F.broadcast(med))
        .select(
            "keep_clf",
            "keep_heur",
            F.coalesce(
                F.col("kn_score_ppm") >= F.col("med"), F.lit(False)
            ).alias("keep_lm"),
            "keep_rep",
        )
    )
    names = _Q189_NAMES
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i + 1 :]]
    aggs = [F.count("*").cast("long").alias("n")]
    aggs += [
        F.sum(F.when(F.col(f"keep_{f}"), 1).otherwise(0)).cast("long").alias(f"k_{f}")
        for f in names
    ]
    aggs += [
        F.sum(F.when(F.col(f"keep_{a}") == F.col(f"keep_{b}"), 1).otherwise(0))
        .cast("long")
        .alias(f"agree_{a}_{b}")
        for a, b in pairs
    ]
    return {
        "verdicts": base,
        "lm_median": med,
        "counts_agg": base.agg(*aggs),
    }


@register(
    "q189_filter_agreement",
    oracle=None,  # set below — needs the member oracles
)
def q189_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise keep/drop agreement + Cohen's kappa (integer ppm) for
    the four quality filters. One narrow per-doc verdict projection
    (members' own plans), a bounded histogram median for the LM
    threshold, ONE single-row aggregation for all counts; po/pe/kappa
    assembled driver-side from the exact counts with the same integer
    formulas the oracle replays."""
    S = 1_000_000
    names = _Q189_NAMES
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i + 1 :]]
    r = _q189_frames(spark, sf_dir)["counts_agg"].collect()[0]
    rows = []
    for a, b in pairs:
        n, ka, kb = r["n"], r[f"k_{a}"], r[f"k_{b}"]
        n_agree = r[f"agree_{a}_{b}"]
        po = n_agree * S // n
        pa, pb = ka * S // n, kb * S // n
        pe = (pa * pb) // S + ((S - pa) * (S - pb)) // S
        if pe == S:
            kappa = None
        elif po >= pe:
            kappa = (po - pe) * S // (S - pe)
        else:
            kappa = -((pe - po) * S // (S - pe))
        rows.append((a, b, n, ka, kb, n_agree, po, pe, kappa))
    return spark.createDataFrame(
        rows,
        "filter_a string, filter_b string, n_docs long, a_keep_n long, "
        "b_keep_n long, n_agree long, po_ppm long, pe_ppm long, kappa_ppm long",
    ).orderBy("filter_a", "filter_b")


def _q189_oracle() -> str:
    from . import REGISTRY

    q37 = REGISTRY["q37_text_quality"].oracle
    q95 = REGISTRY["q95_quality_classifier"].oracle
    q182 = REGISTRY["q182_repetition_audit"].oracle
    q188 = REGISTRY["q188_trigram_lm_score"].oracle
    pairs = [
        ("clf", "heur"), ("clf", "lm"), ("clf", "rep"),
        ("heur", "lm"), ("heur", "rep"), ("lm", "rep"),
    ]
    pair_rows = "\n      UNION ALL ".join(
        f"SELECT '{a}' AS filter_a, '{b}' AS filter_b, n, k_{a} AS ka, "
        f"k_{b} AS kb, agree_{a}_{b} AS n_agree FROM agg"
        for a, b in pairs
    )
    keep_sums = ", ".join(
        f"CAST(SUM(CASE WHEN keep_{f} THEN 1 ELSE 0 END) AS BIGINT) AS k_{f}"
        for f in ["clf", "heur", "lm", "rep"]
    )
    agree_sums = ", ".join(
        f"CAST(SUM(CASE WHEN keep_{a} = keep_{b} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS agree_{a}_{b}"
        for a, b in pairs
    )
    return f"""
    WITH base AS MATERIALIZED (
      SELECT h.doc_id, h.quality_score >= 0.68 AS keep_heur,
             c.keep AS keep_clf,
             COALESCE(r.top_word_share_ppm < 300000, FALSE) AS keep_rep,
             l.kn_score_ppm
      FROM (SELECT doc_id, quality_score FROM ({q37})) h
      JOIN (SELECT doc_id, keep FROM ({q95})) c USING (doc_id)
      JOIN (SELECT doc_id, top_word_share_ppm FROM ({q182})) r USING (doc_id)
      JOIN (SELECT doc_id, kn_score_ppm FROM ({q188})) l USING (doc_id)
    ),
    hist AS (
      SELECT kn_score_ppm AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM base WHERE kn_score_ppm IS NOT NULL GROUP BY 1
    ),
    med AS (
      SELECT MIN(v) AS med FROM (
        SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
               (SELECT (SUM(c) + 1) // 2 FROM hist) AS k
        FROM hist
      ) WHERE cum >= k
    ),
    verdicts AS (
      SELECT keep_clf, keep_heur,
             COALESCE(kn_score_ppm >= (SELECT med FROM med), FALSE) AS keep_lm,
             keep_rep
      FROM base
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, {keep_sums}, {agree_sums}
      FROM verdicts
    ),
    pairs AS (
      {pair_rows}
    ),
    calc AS (
      SELECT filter_a, filter_b, n AS n_docs, ka AS a_keep_n, kb AS b_keep_n,
             n_agree,
             n_agree * 1000000 // n AS po_ppm,
             (ka * 1000000 // n) * (kb * 1000000 // n) // 1000000
             + (1000000 - ka * 1000000 // n)
               * (1000000 - kb * 1000000 // n) // 1000000 AS pe_ppm
      FROM pairs
    )
    SELECT filter_a, filter_b, n_docs, a_keep_n, b_keep_n, n_agree,
           CAST(po_ppm AS BIGINT) AS po_ppm, CAST(pe_ppm AS BIGINT) AS pe_ppm,
           CAST(CASE WHEN pe_ppm = 1000000 THEN NULL
                WHEN po_ppm >= pe_ppm
                  THEN (po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm)
                ELSE -((pe_ppm - po_ppm) * 1000000 // (1000000 - pe_ppm))
           END AS BIGINT) AS kappa_ppm
    FROM calc ORDER BY filter_a, filter_b
    """


from . import REGISTRY as _REG  # noqa: E402

# the oracle composes member oracles that register above in this module
_REG["q189_filter_agreement"].oracle = _q189_oracle()


# --------------------------------------------------------------- q190
# Top-N gram-cutoff source overlap — the scale lever the q163 verdicts
# documented (VERDICT r8 watch item #3, task #3): q163's per-gram
# source-set index grows with the GRAM VOCABULARY, which is linear in
# the corpus (measured 4.29x at 10x, 27.3x at 100x on the
# disjoint-vocabulary worst-case corpus). This variant bounds the
# index at sources x N regardless of corpus size: each source keeps
# only its TOP-N most frequent 4-word windows (tf DESC, gram ASC —
# deterministic), and the overlap audit runs over those bounded sets.
# Value-changing vs q163 BY DESIGN (a cutoff is an approximation), so
# it is a NEW oracle-matched query rather than a silent q163 change;
# the audit question it answers — "do these sources restate each
# other's CHARACTERISTIC content" — is the mixture-tuning question,
# and boilerplate shared across sources is exactly what the top of the
# tf ranking surfaces.

_OVL_TOPN = 200


@register(
    "q190_source_overlap_topn",
    oracle=f"""
    WITH w AS (
      SELECT source, {_WORDS} AS __w FROM documents
    ),
    occ AS (
      SELECT source,
             CAST(concat('0x', substring(md5(
               array_to_string(list_slice(__w, i, i + {_OVL_W - 1}), ' ')
             ), 1, 15)) AS BIGINT) AS gram
      FROM w, unnest(generate_series(1, len(__w) - {_OVL_W - 1})) AS t(i)
    ),
    tf AS (
      SELECT source, gram, CAST(count(*) AS BIGINT) AS tf
      FROM occ GROUP BY source, gram
    ),
    top AS (
      SELECT source, gram, tf FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY tf DESC, gram) AS rn
        FROM tf
      ) WHERE rn <= {_OVL_TOPN}
    ),
    tot AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_top FROM top GROUP BY source
    ),
    sh AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS shared_topn
      FROM top a JOIN top b ON a.gram = b.gram AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT sh.src_a, sh.src_b, sh.shared_topn,
           ta.n_top AS topn_a, tb.n_top AS topn_b,
           CAST(sh.shared_topn * 1000000
             // least(ta.n_top, tb.n_top) AS BIGINT) AS containment_ppm
    FROM sh
    JOIN tot ta ON ta.source = sh.src_a
    JOIN tot tb ON tb.source = sh.src_b
    ORDER BY src_a, src_b
    """,
)
def q190_source_overlap_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise overlap of each source's top-N most frequent 4-word
    windows: shared windows per pair, each side's retained-set size
    (min(N, vocabulary)), containment of the smaller side in exact ppm.

    Scale shape: the gram rides the same 8-byte md5 lane as q163; ONE
    (source, gram) count aggregation; the per-source top-N is the
    SALTED TWO-PHASE form (phase 1 ranks within (source, gram % 32) so
    no task ever sorts a whole source's vocabulary — the q165 lesson;
    phase 2 ranks the <= 32*N survivors per source), and everything
    downstream of the cutoff is bounded at sources x N rows — the pair
    join broadcasts, totals are trivial, and the whole tail is
    corpus-size-INDEPENDENT, which is the point of the cutoff."""
    from ..operators.text import source_overlap

    docs = load_table(spark, sf_dir, "documents")
    return source_overlap(
        docs, "doc_id", "text", "source", window=_OVL_W, top_n=_OVL_TOPN
    )


# --------------------------------------------------------------- q195
# Cross-document frequent-line boilerplate removal — the
# RefinedWeb/Dolma paragraph-frequency rule, the frequency-based
# complement of q186's C4 phrase/structure rules: a line repeated
# verbatim across >= 3 distinct documents is boilerplate no matter
# what it says (nav menus, footers, legal banners), which catches the
# org-specific junk no curated phrase list anticipates. Runs over the
# SAME synthesized line structure as q186 so the two line-level
# cleaners are directly comparable on the gate: the injected
# cookie-policy footer (every doc_id % 31 == 0) is caught HERE by
# pure frequency — no phrase list — and any 7-word chunk that happens
# to repeat across documents is caught too.


@register(
    "q195_boilerplate_lines",
    oracle=f"""
    WITH synth AS (
      SELECT doc_id, {_C4_LINE_DUCK} AS t FROM documents
    ),
    lined AS (
      SELECT doc_id, coalesce(string_split(t, chr(10)), []) AS lns FROM synth
    ),
    lx AS (
      SELECT doc_id, i AS pos, lns[i] AS ln
      FROM lined, unnest(generate_series(1, len(lns))) AS u(i)
    ),
    survivors AS (
      SELECT {_LANE_DUCK.format(x="trim(ln)")} AS lh
      FROM lx WHERE trim(ln) <> ''
      GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 3
    ),
    marked AS (
      SELECT doc_id, pos, ln,
             (trim(ln) <> '' AND {_LANE_DUCK.format(x="trim(ln)")}
               IN (SELECT lh FROM survivors)) AS b
      FROM lx
    ),
    agg AS (
      SELECT doc_id,
             CAST(count(pos) AS BIGINT) AS n_lines,
             CAST(coalesce(sum(CASE WHEN b THEN 1 END), 0) AS BIGINT)
               AS n_boiler_lines,
             md5(coalesce(string_agg(CASE WHEN NOT b THEN ln END,
                                     chr(10) ORDER BY pos), ''))
               AS cleaned_digest
      FROM marked GROUP BY doc_id
    )
    SELECT l.doc_id,
           CAST(coalesce(a.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(coalesce(a.n_boiler_lines, 0) AS BIGINT) AS n_boiler_lines,
           CAST(CASE WHEN coalesce(a.n_lines, 0) = 0 THEN 0
                ELSE a.n_boiler_lines * 1000000 // a.n_lines
           END AS BIGINT) AS boiler_ppm,
           coalesce(a.cleaned_digest, md5('')) AS cleaned_digest
    FROM lined l LEFT JOIN agg a USING (doc_id)
    ORDER BY doc_id
    """,
)
def q195_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-based boilerplate-line removal over the synthesized
    line structure: per doc the line count, the count of lines whose
    trimmed form appears in >= 3 distinct documents, boiler ppm, and
    the md5 digest of the kept lines rebuilt in original order. See
    operators/text.py::boilerplate_lines for the rule and the 100 TB
    shape (8-byte line lane, three uniform-key exchanges, AQE
    broadcast of the bounded repeated-line survivor set)."""
    from ..operators.text import boilerplate_lines

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_C4_LINE_SPARK).alias("text")
    )
    return boilerplate_lines(docs, "doc_id", "text", min_docs=3).orderBy("doc_id")


# --------------------------------------------------------------- q196
# Filter-threshold sweep — the calibration table every filtering paper
# publishes (and the knob a release engineer actually turns): for each
# candidate quality threshold, how many documents and tokens survive.
# Computed as a BOUNDED score histogram (classifier logit_ppm binned
# at 50k-ppm width on a shifted non-negative key so Spark's DIV and
# DuckDB's // agree on negatives) with a descending cumulative — at
# 100 TB the corpus pays ONE classifier scan and a map-side-combining
# aggregation onto <= a-few-dozen bins; the cumulative window runs
# over those bins, never the corpus. The q122 histogram lesson applied
# to filter tuning: no global sort by score, no per-threshold rescan.

_SWEEP_BIN = 50_000_000
_SWEEP_SHIFT = 1_001_000_000  # |logit_ppm| <= 1001e6 by the weight table


@register(
    "q196_filter_threshold_sweep",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_WORDS} AS ws FROM documents
    ),
    b AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 2 THEN list_transform(generate_series(1, len(ws)-1),
               i -> concat(ws[i], ' ', ws[i+1])) ELSE CAST([] AS VARCHAR[]) END AS bgs,
             greatest(len(ws)-1, 0) AS nf,
             CAST(len(ws) AS BIGINT) AS n_tokens
      FROM w
    ),
    s AS (
      SELECT CASE WHEN nf = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(coalesce(list_aggregate(list_transform(bgs,
               bg -> ((CAST(concat('0x', substring(md5(bg), 1, 8)) AS BIGINT) % 1024)
                      * 2654435761) % 2003 - 1001), 'sum'), 0) AS BIGINT)
                       * 1000000 // nf END AS score_ppm,
             n_tokens
      FROM b
    ),
    pb AS (
      SELECT (score_ppm + {_SWEEP_SHIFT}) // {_SWEEP_BIN} AS bin,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM s GROUP BY 1
    ),
    cu AS (
      SELECT bin, n_docs, n_tokens,
             CAST(sum(n_docs) OVER (ORDER BY bin DESC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
             CAST(sum(n_tokens) OVER (ORDER BY bin DESC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
             CAST(sum(n_docs) OVER () AS BIGINT) AS tot_docs,
             CAST(sum(n_tokens) OVER () AS BIGINT) AS tot_tokens
      FROM pb
    )
    SELECT CAST(bin * {_SWEEP_BIN} - {_SWEEP_SHIFT} AS BIGINT) AS threshold_ppm,
           n_docs, n_tokens, cum_docs, cum_tokens,
           CAST(cum_docs * 1000000 // tot_docs AS BIGINT) AS kept_doc_ppm,
           -- multiplier-split form: cum_tokens * 1e6 passes int64 at
           -- ~9e12 corpus tokens (the 100 TB regime). Splitting 1e6
           -- into 1000 * 1000 keeps every intermediate <= 1000 * d:
           -- q*1e6//d == ((q*1000)//d)*1000 + (((q*1000)%d)*1000)//d,
           -- exact for d up to ~9e15 tokens
           CAST(((cum_tokens * 1000) // tot_tokens) * 1000
             + (((cum_tokens * 1000) % tot_tokens) * 1000) // tot_tokens
             AS BIGINT) AS kept_token_ppm
    FROM cu ORDER BY threshold_ppm
    """,
)
def q196_filter_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept-docs/kept-tokens vs quality-threshold curve: classifier
    logit_ppm binned at 50M-ppm width (~40 bins over the weight
    table's +-1001M range); per bin the doc/token mass and
    the descending cumulative (what survives a threshold at this bin's
    lower edge), plus corpus-share ppm. One classifier scan, a tiny
    uniform-key histogram aggregation, and a window over the bounded
    bin set — the threshold sweep never rescans the corpus."""
    from ..operators.text import quality_classifier_score

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        quality_classifier_score("text").getField("logit_ppm").alias("score_ppm"),
        F.expr("CAST(size(split(trim(lower(text)), '\\\\s+')) AS BIGINT)").alias(
            "n_tokens"
        ),
    )
    per_bin = (
        scored.select(
            F.expr(f"(score_ppm + {_SWEEP_SHIFT}) DIV {_SWEEP_BIN}").alias("bin"),
            "n_tokens",
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )
    cum = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy()
    return (
        per_bin.select(
            F.expr(f"CAST(bin * {_SWEEP_BIN} - {_SWEEP_SHIFT} AS BIGINT)").alias(
                "threshold_ppm"
            ),
            "n_docs",
            "n_tokens",
            F.sum("n_docs").over(cum).cast("long").alias("cum_docs"),
            F.sum("n_tokens").over(cum).cast("long").alias("cum_tokens"),
            F.sum("n_docs").over(tot).cast("long").alias("__td"),
            F.sum("n_tokens").over(tot).cast("long").alias("__tt"),
        )
        .select(
            "threshold_ppm",
            "n_docs",
            "n_tokens",
            "cum_docs",
            "cum_tokens",
            F.expr("CAST(cum_docs * 1000000 DIV __td AS BIGINT)").alias(
                "kept_doc_ppm"
            ),
            # multiplier-split form — cum_tokens * 1e6 overflows int64
            # at the 100 TB token scale; splitting 1e6 into 1000 * 1000
            # bounds every intermediate at 1000 * tot (exact to ~9e15)
            F.expr(
                "CAST(((cum_tokens * 1000) DIV __tt) * 1000"
                " + (((cum_tokens * 1000) % __tt) * 1000) DIV __tt AS BIGINT)"
            ).alias("kept_token_ppm"),
        )
        .orderBy("threshold_ppm")
    )


# --------------------------------------------------------------- q197
# CCNet-style perplexity bucketing (Wenzek et al. 2020): per language,
# split the corpus into head / middle / tail TERCILES of LM fluency
# and report each bucket's doc and token mass — the table a mixture
# builder samples from ("train mostly on head+middle, downsample
# tail"). Thresholds are EXACT per-language terciles computed from a
# bounded score histogram (kn_score_ppm is an integer in [0, 10^6],
# so the histogram is ≤ 10^6 rows per language regardless of corpus
# size — the q170/q189 lesson: never a global row sort at 100 TB);
# docs with no trigrams land in an explicit 'none' bucket so the
# accounting stays total. The LM pass itself is the q188/q189 shared
# ``_kn_scores`` memo — the q78 suite trains ONCE for all three
# consumers.


@register(
    "q197_perplexity_buckets",
    oracle=None,  # set below — composes the q188 member oracle
)
def q197_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, bucket) doc/token mass with the exact tercile
    thresholds: bucket = tail (score <= t1), middle (t1 < score <=
    t2), head (score > t2), none (no trigrams); t_k = the smallest
    score whose per-language cumulative count reaches k/3 of the
    scored docs. share_ppm is the bucket's doc share within its
    language, exact integer ppm."""
    lm = _kn_scores(spark, sf_dir).select("doc_id", "kn_score_ppm")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr(
            "CAST(size(split(trim(lower(text)), '\\\\s+')) AS BIGINT)"
        ).alias("n_tokens"),
    )
    base = docs.join(lm, "doc_id")
    hist = (
        base.where(F.col("kn_score_ppm").isNotNull())
        .groupBy("lang", "kn_score_ppm")
        .agg(F.count("*").alias("c"))
    )
    wcum = (
        Window.partitionBy("lang")
        .orderBy("kn_score_ppm")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("lang")
    cum = hist.select(
        "lang",
        F.col("kn_score_ppm").alias("v"),
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wtot).alias("tot"),
    )
    th = cum.groupBy("lang").agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("tot"), F.col("v"))).alias("t1"),
        F.min(F.when(F.col("cum") * 3 >= F.col("tot") * 2, F.col("v"))).alias("t2"),
    )
    bucketed = base.join(F.broadcast(th), "lang", "left").select(
        "lang",
        "n_tokens",
        F.expr(
            "CASE WHEN kn_score_ppm IS NULL THEN 'none'"
            " WHEN kn_score_ppm <= t1 THEN 'tail'"
            " WHEN kn_score_ppm <= t2 THEN 'middle'"
            " ELSE 'head' END"
        ).alias("bucket"),
    )
    agg = bucketed.groupBy("lang", "bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    tot2 = agg.groupBy("lang").agg(
        F.sum("n_docs").cast("long").alias("lang_docs")
    )
    return (
        agg.join(tot2, "lang")
        .join(F.broadcast(th), "lang", "left")
        .select(
            "lang",
            "bucket",
            "n_docs",
            "n_tokens",
            F.expr("n_docs * 1000000 div lang_docs").alias("share_ppm"),
            F.col("t1").cast("long").alias("t1_ppm"),
            F.col("t2").cast("long").alias("t2_ppm"),
        )
        .orderBy("lang", "bucket")
    )


def _q197_oracle() -> str:
    from . import REGISTRY

    q188 = REGISTRY["q188_trigram_lm_score"].oracle
    return f"""
    WITH lm AS MATERIALIZED (
      SELECT doc_id, kn_score_ppm FROM ({q188})
    ),
    base AS (
      SELECT d.lang, CAST({_N_WORDS} AS BIGINT) AS n_tokens, l.kn_score_ppm
      FROM documents d JOIN lm l USING (doc_id)
    ),
    hist AS (
      SELECT lang, kn_score_ppm AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM base WHERE kn_score_ppm IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
      SELECT lang, v,
             SUM(c) OVER (PARTITION BY lang ORDER BY v
               ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(c) OVER (PARTITION BY lang) AS tot
      FROM hist
    ),
    th AS (
      SELECT lang, MIN(CASE WHEN cum * 3 >= tot THEN v END) AS t1,
             MIN(CASE WHEN cum * 3 >= tot * 2 THEN v END) AS t2
      FROM cum GROUP BY lang
    ),
    bucketed AS (
      SELECT b.lang,
             CASE WHEN b.kn_score_ppm IS NULL THEN 'none'
                  WHEN b.kn_score_ppm <= t.t1 THEN 'tail'
                  WHEN b.kn_score_ppm <= t.t2 THEN 'middle'
                  ELSE 'head' END AS bucket,
             b.n_tokens
      FROM base b LEFT JOIN th t USING (lang)
    ),
    agg AS (
      SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM bucketed GROUP BY 1, 2
    ),
    lt AS (
      SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS lang_docs
      FROM agg GROUP BY lang
    )
    SELECT a.lang, a.bucket, a.n_docs, a.n_tokens,
           CAST(a.n_docs * 1000000 // lt.lang_docs AS BIGINT) AS share_ppm,
           CAST(th.t1 AS BIGINT) AS t1_ppm, CAST(th.t2 AS BIGINT) AS t2_ppm
    FROM agg a JOIN lt USING (lang) LEFT JOIN th USING (lang)
    ORDER BY lang, bucket
    """


_REG["q197_perplexity_buckets"].oracle = _q197_oracle()


# --------------------------------------------------------------- q198
# Marginal gram novelty per source — the "what does adding this
# corpus actually buy" datasheet column: in deterministic alphabetical
# source order, how many of each source's distinct 4-word windows are
# FIRST contributed by that source, plus the cumulative distinct-gram
# coverage. The marginal-diversity complement of q163/q190's pairwise
# redundancy audit; shape notes in operators/text.py::gram_novelty.


@register(
    "q198_gram_novelty",
    oracle=f"""
    WITH w AS (
      SELECT source, {_WORDS} AS __w FROM documents
    ),
    occ AS (
      SELECT source,
             CAST(concat('0x', substring(md5(
               array_to_string(list_slice(__w, i, i + {_OVL_W - 1}), ' ')
             ), 1, 15)) AS BIGINT) AS gram
      FROM w, unnest(generate_series(1, len(__w) - {_OVL_W - 1})) AS t(i)
    ),
    dist AS (SELECT DISTINCT source, gram FROM occ),
    firsts AS (SELECT gram, MIN(source) AS source FROM dist GROUP BY gram),
    tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
      FROM dist GROUP BY source
    ),
    nw AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_new_grams
      FROM firsts GROUP BY source
    ),
    ranked AS (
      SELECT t.source, t.n_grams,
             CAST(COALESCE(nw.n_new_grams, 0) AS BIGINT) AS n_new_grams
      FROM tot t LEFT JOIN nw USING (source)
    )
    SELECT source,
           CAST(ROW_NUMBER() OVER (ORDER BY source) AS BIGINT) AS source_rank,
           n_grams, n_new_grams,
           CAST(n_new_grams * 1000000 // n_grams AS BIGINT) AS novelty_ppm,
           CAST(SUM(n_new_grams) OVER (ORDER BY source
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_grams
    FROM ranked ORDER BY source
    """,
)
def q198_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source marginal novelty of distinct 4-word windows in
    alphabetical source order: total distinct grams, first-contributed
    grams, novelty share in exact integer ppm, and the cumulative
    distinct-gram coverage. One (source, gram) DISTINCT + one per-gram
    MIN(source) on the 8-byte md5 lane; windows run over the
    per-source summary only."""
    from ..operators.text import gram_novelty

    docs = load_table(spark, sf_dir, "documents")
    return gram_novelty(docs, "doc_id", "text", "source", window=_OVL_W)


# --------------------------------------------------------------- q200
# Filter ROC audit — before a quality threshold ships, the filter is
# graded against a corpus with KNOWN contamination: the q186/q195
# synthesized line structure injects a cookie-policy boilerplate line
# into every doc_id % 31 == 0 document, which gives the corpus exact
# weak labels. This query scores the SYNTHESIZED text with the q95
# hashed-bigram classifier and reports the exact ROC curve (per
# 50M-ppm grid cell: docs a "score < cutoff" drop rule would remove,
# tpr/fpr in exact integer ppm) plus the exact Mann-Whitney AUC over
# per-distinct-score counts — the one-number answer to "does this
# filter actually separate the injected boilerplate". Grid constants
# shared with q196 so the sweep and the ROC line up
# threshold-for-threshold. Shape: operators/text.py::roc_audit.


@register(
    "q200_filter_roc_audit",
    oracle=f"""
    WITH synth AS (
      SELECT doc_id, {_C4_LINE_DUCK} AS t FROM documents
    ),
    w AS (
      SELECT doc_id, doc_id % 31 = 0 AS y,
             regexp_split_to_array(trim(lower(t)), '\\s+') AS ws
      FROM synth
    ),
    b AS (
      SELECT doc_id, y,
             CASE WHEN len(ws) >= 2 THEN list_transform(generate_series(1, len(ws)-1),
               i -> concat(ws[i], ' ', ws[i+1])) ELSE CAST([] AS VARCHAR[]) END AS bgs,
             greatest(len(ws)-1, 0) AS nf
      FROM w
    ),
    sc AS (
      SELECT y,
             CASE WHEN nf = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(coalesce(list_aggregate(list_transform(bgs,
               bg -> ((CAST(concat('0x', substring(md5(bg), 1, 8)) AS BIGINT) % 1024)
                      * 2654435761) % 2003 - 1001), 'sum'), 0) AS BIGINT)
                       * 1000000 // nf END AS s
      FROM b
    ),
    hist AS (
      SELECT s,
             CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos_at,
             CAST(SUM(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS neg_at
      FROM sc GROUP BY s
    ),
    tot AS (
      SELECT CAST(SUM(pos_at) AS HUGEINT) AS p,
             CAST(SUM(neg_at) AS HUGEINT) AS n
      FROM hist
    ),
    cum AS (
      SELECT s, pos_at, neg_at,
             SUM(neg_at) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum_neg_le
      FROM hist
    ),
    u AS (
      SELECT CAST(SUM(CAST(pos_at AS HUGEINT) *
               (2 * ((SELECT n FROM tot) - cum_neg_le) + neg_at)) AS HUGEINT) AS u2
      FROM cum
    ),
    bins AS (
      SELECT (s + {_SWEEP_SHIFT}) // {_SWEEP_BIN} AS bin,
             CAST(SUM(pos_at) AS BIGINT) AS n_pos,
             CAST(SUM(neg_at) AS BIGINT) AS n_neg
      FROM hist GROUP BY 1
    ),
    roc AS (
      SELECT bin, n_pos, n_neg,
             CAST(SUM(n_pos) OVER (ORDER BY bin
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS drop_pos,
             CAST(SUM(n_neg) OVER (ORDER BY bin
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS drop_neg
      FROM bins
    )
    SELECT CAST((bin + 1) * {_SWEEP_BIN} - {_SWEEP_SHIFT} AS BIGINT) AS cutoff_ppm,
           n_pos, n_neg, drop_pos, drop_neg,
           CAST(drop_pos * 1000000 // (SELECT p FROM tot) AS BIGINT) AS tpr_ppm,
           CAST(drop_neg * 1000000 // (SELECT n FROM tot) AS BIGINT) AS fpr_ppm,
           CAST((SELECT (u2 * 1000000) // (2 * p * n) FROM u, tot)
             AS BIGINT) AS auc_ppm,
           CAST((SELECT p FROM tot) AS BIGINT) AS pos_total,
           CAST((SELECT n FROM tot) AS BIGINT) AS neg_total
    FROM roc ORDER BY cutoff_ppm
    """,
)
def q200_filter_roc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC + Mann-Whitney AUC (integer ppm) of the q95 hashed-
    bigram quality classifier against the q186 synth's injected
    boilerplate labels (doc_id % 31): per occupied 50M-ppm grid cell
    the docs a score<cutoff rule drops, tpr/fpr, and the exact
    U-statistic AUC over per-distinct-score counts. One classifier
    scan, a bounded two-phase histogram — never a global row sort."""
    from ..operators.text import quality_classifier_score, roc_audit

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        quality_classifier_score(f"({_C4_LINE_SPARK})")
        .getField("logit_ppm")
        .alias("score"),
        F.expr("doc_id % 31 = 0").alias("label"),
    )
    return roc_audit(
        scored, "score", "label", bin_width=_SWEEP_BIN, shift=_SWEEP_SHIFT
    )


def _q200_frames(spark: SparkSession, sf_dir: str) -> dict:
    """The q200 stage frames, UNSTAGED (the checkpoint boundary inside
    roc_audit would otherwise hide the classifier scan behind a
    LogicalRDD scan): the per-distinct-score histogram pass and the
    single per-bin stats job over it — exposed to tools/dump_plans.py
    (VERDICT r10 #7)."""
    from ..operators.text import (
        _roc_bin_stats,
        _roc_hist,
        quality_classifier_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        quality_classifier_score(f"({_C4_LINE_SPARK})")
        .getField("logit_ppm")
        .alias("score"),
        F.expr("doc_id % 31 = 0").alias("label"),
    )
    hist = _roc_hist(scored, "score", "label", _SWEEP_BIN, _SWEEP_SHIFT)
    return {"score_hist": hist, "per_bin_stats": _roc_bin_stats(hist)}

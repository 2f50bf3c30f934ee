"""Corpus-scrubbing queries: decontamination, PII redaction,
repetition filtering, passage-level dedup (q65–q68).

These are the curation passes a training pipeline runs downstream of
the Avro decode surface (the reference delegates all such processing
to SQL on the decoded rows — README.md:13-17, SURVEY §2.6). Each
Spark program is pure Catalyst (:mod:`..operators.scrub`); each oracle
rebuilds the identical formula in DuckDB list/regex functions.

Engine-parity notes baked into the formulas:

- word n-grams guard ``sequence(1, k)`` descending for k < 1 (Spark)
  vs ``generate_series`` returning empty (DuckDB) with an explicit
  CASE on both sides;
- regex patterns restrict to syntax with identical semantics under
  Java regex and RE2 (no lookaround/backrefs; ``\\d``/``\\b`` are
  ASCII in both); Spark literals double the backslashes because its
  SQL parser strips unknown escapes;
- counts are CAST so Spark's INT ``size()`` meets DuckDB's BIGINT
  ``len()`` on the same type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load_table, register
from ..operators.scrub import (
    PII_PATTERNS,
    decontaminate_candidates,
    duplicated_spans,
    repetition_metrics,
    scrub_pii,
    word_ngrams,
)

_W_SQL = "regexp_split_to_array(trim(lower(text)), '\\s+')"


def _grams_sql(n: int, distinct: bool = True) -> str:
    grams = (
        f"list_transform(generate_series(1, len(__w) - {n - 1}), "
        f"i -> array_to_string(list_slice(__w, i, i + {n - 1}), ' '))"
    )
    if distinct:
        grams = f"list_distinct({grams})"
    return f"CASE WHEN len(__w) >= {n} THEN {grams} ELSE CAST([] AS VARCHAR[]) END"


# ---------------------------------------------------------------- q65
# Benchmark decontamination: which training docs share a word 3-gram
# with the held-out benchmark slice (doc_id % 97 = 0)? The standard
# GPT-3/PaLM protocol uses 8–13-gram exact match; 3-grams here because
# the synthetic corpus draws from a ~40-word vocabulary, so longer
# grams would never collide and the path would go untested.

_BENCH_MOD = 97
_DECON_N = 3


@register(
    "q65_decontamination",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_W_SQL} AS __w FROM documents
    ), g AS (
      SELECT doc_id, {_grams_sql(_DECON_N)} AS grams FROM w
    ), bench AS (
      SELECT DISTINCT gram
      FROM (SELECT unnest(grams) AS gram FROM g WHERE doc_id % {_BENCH_MOD} = 0)
    ), corpus AS (
      SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % {_BENCH_MOD} <> 0
    )
    SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
    FROM corpus c JOIN bench b USING (gram)
    GROUP BY c.doc_id
    ORDER BY doc_id
    """,
)
def q65_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contaminated-doc report: per training document, how many
    distinct word 3-grams also occur in the benchmark slice.

    Scale shape: the benchmark gram set is DISTINCT'd and broadcast
    (eval suites are MBs against a TB corpus), so the corpus side
    never shuffles for the join; the only exchange is the per-doc
    count. See operators/scrub.py:decontaminate_candidates."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % _BENCH_MOD == 0)
    corpus = docs.where(F.col("doc_id") % _BENCH_MOD != 0)
    return (
        decontaminate_candidates(corpus, bench, n=_DECON_N)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- q66
# PII scrubbing over synthesized customer "profile" strings. The
# testdata customer table carries no phone/address columns, so the
# profile synthesizes deterministic PII from the key (TPC-H-format
# phone NN-NNN-NNN-NNNN, a dotted-quad IP, an email from c_name) —
# every pattern fires on every row and both engines build the exact
# same string. The profile expression uses only functions with
# identical semantics in Spark SQL and DuckDB (concat/lpad/CAST AS
# STRING/replace/lower), so ONE string serves both.

_PROFILE_SQL = (
    "concat(c_name, ' <', replace(lower(c_name), '#', '.'), '@example.com> tel:', "
    "lpad(CAST(10 + c_custkey % 90 AS STRING), 2, '0'), '-', "
    "lpad(CAST(c_custkey % 1000 AS STRING), 3, '0'), '-', "
    "lpad(CAST((c_custkey * 7) % 1000 AS STRING), 3, '0'), '-', "
    "lpad(CAST((c_custkey * 13) % 10000 AS STRING), 4, '0'), "
    "' ip:', CAST(c_custkey % 224 + 1 AS STRING), '.', CAST((c_custkey * 3) % 256 AS STRING), "
    "'.', CAST((c_custkey * 5) % 256 AS STRING), '.', CAST((c_custkey * 11) % 256 AS STRING), "
    "' segment ', c_mktsegment)"
)


@register(
    "q66_pii_scrub",
    oracle=f"""
    WITH profile AS (
      SELECT c_custkey, {_PROFILE_SQL} AS profile
      FROM customer
    )
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(profile,
               '{PII_PATTERNS[0][1]}', '{PII_PATTERNS[0][2]}', 'g'),
               '{PII_PATTERNS[1][1]}', '{PII_PATTERNS[1][2]}', 'g'),
               '{PII_PATTERNS[2][1]}', '{PII_PATTERNS[2][2]}', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(profile, '{PII_PATTERNS[0][1]}')) AS INTEGER) AS n_email,
           CAST(len(regexp_extract_all(profile, '{PII_PATTERNS[1][1]}')) AS INTEGER) AS n_phone,
           CAST(len(regexp_extract_all(profile, '{PII_PATTERNS[2][1]}')) AS INTEGER) AS n_ip
    FROM profile
    ORDER BY c_custkey
    """,
)
def q66_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails/phones/IPv4 from a synthesized per-customer
    profile string; per-row redaction counts.

    Pure narrow projection — no shuffle except the final ORDER BY;
    regexes run inside whole-stage codegen. At 100 TB this is a
    map-only pass. See operators/scrub.py:scrub_pii."""
    cust = load_table(spark, sf_dir, "customer")
    profile = cust.select("c_custkey", F.expr(_PROFILE_SQL).alias("profile"))
    s = scrub_pii("profile")
    return profile.select(
        "c_custkey",
        s["scrubbed"].alias("scrubbed"),
        s["n_email"].alias("n_email"),
        s["n_phone"].alias("n_phone"),
        s["n_ip"].alias("n_ip"),
    ).orderBy("c_custkey")


# ---------------------------------------------------------------- q67
# Gopher-style repetition metrics: duplicate word-2-gram fraction and
# top-gram share per document, the standard quality-filter signals.


@register(
    "q67_repetition_filter",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_W_SQL} AS __w FROM documents
    ), g AS (
      SELECT doc_id, unnest({_grams_sql(2, distinct=False)}) AS gram FROM w
    ), per_gram AS (
      SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram
    )
    SELECT doc_id,
           CAST(sum(cnt) AS INTEGER) AS n_grams,
           round(1 - count(*) / CAST(sum(cnt) AS DOUBLE), 6) AS dup_gram_fraction,
           round(max(cnt) / CAST(sum(cnt) AS DOUBLE), 6) AS top_gram_share
    FROM per_gram
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def q67_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics (duplicate 2-gram fraction,
    top-gram share) for Gopher-style quality filtering.

    Two aggregations, both map-side combining, group sizes bounded by
    a single document's gram count — no skew risk at any SF. See
    operators/scrub.py:repetition_metrics."""
    docs = load_table(spark, sf_dir, "documents")
    return repetition_metrics(docs, n=2).orderBy("doc_id")


# ---------------------------------------------------------------- q68
# C4-style repeated-passage dedup. The synthetic corpus has no line
# structure (no newlines/periods), so "lines" are fixed 4-word chunks;
# chunks occurring more than 3× corpus-wide are dropped and documents
# are reassembled in original chunk order.

_CHUNK_W = 4
_MAX_OCC = 3


@register(
    "q68_passage_dedup",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_W_SQL} AS __w FROM documents
    ), ch AS (
      SELECT doc_id, j AS pos,
             array_to_string(list_slice(__w, (j-1)*{_CHUNK_W}+1, j*{_CHUNK_W}), ' ') AS chunk
      FROM w, unnest(generate_series(1, CAST(ceil(len(__w) / {_CHUNK_W}.0) AS BIGINT))) AS t(j)
    ), cnt AS (
      SELECT chunk, count(*) AS c FROM ch GROUP BY chunk
    ), kept AS (
      SELECT ch.doc_id, ch.pos, ch.chunk FROM ch JOIN cnt USING (chunk) WHERE cnt.c <= {_MAX_OCC}
    ), agg AS (
      SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS cleaned, count(*) AS n_kept
      FROM kept GROUP BY doc_id
    ), tot AS (
      SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(a.cleaned, '') AS cleaned_text,
           CAST(t.n_chunks AS INTEGER) AS n_chunks,
           CAST(t.n_chunks - coalesce(a.n_kept, 0) AS INTEGER) AS n_dropped
    FROM tot t LEFT JOIN agg a USING (doc_id)
    ORDER BY doc_id
    """,
)
def q68_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop passages (4-word chunks) repeated > 3× corpus-wide and
    reassemble each document in original order; report kept/dropped.

    Scale shape: chunk counts aggregate with map-side combine, then a
    shuffle join back on the uniform chunk key (cheaper than a window
    over PARTITION BY chunk, which would sort the full corpus); the
    reassembly is one groupBy(doc_id) with order restored by
    array_sort over (pos, chunk) structs — no window, no skew."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.expr("split(trim(lower(text)), '\\\\s+')").alias("__w"))
    chunks = w.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, CAST(ceil(size(__w) / {_CHUNK_W}.0) AS INT)), "
                f"j -> array_join(slice(__w, (j-1)*{_CHUNK_W}+1, {_CHUNK_W}), ' '))"
            )
        ).alias("pos", "chunk"),
    )
    cnt = chunks.groupBy("chunk").agg(F.count("*").alias("c"))
    kept = chunks.join(cnt, "chunk").where(F.col("c") <= _MAX_OCC)
    agg = kept.groupBy("doc_id").agg(
        F.expr("array_join(transform(array_sort(collect_list(struct(pos, chunk))), x -> x.chunk), ' ')").alias(
            "cleaned"
        ),
        F.count("*").alias("n_kept"),
    )
    tot = chunks.groupBy("doc_id").agg(F.count("*").alias("n_chunks"))
    return (
        tot.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cleaned", F.lit("")).alias("cleaned_text"),
            F.col("n_chunks").cast("int").alias("n_chunks"),
            (F.col("n_chunks") - F.coalesce("n_kept", F.lit(0))).cast("int").alias("n_dropped"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------- q146
# Cross-document duplicated-SPAN detection — the stride-1 overlapping-
# window substring-dedup protocol (Lee et al., "Deduplicating Training
# Data Makes Language Models Better"): every 6-word window occurring in
# ≥ 2 distinct documents is a duplicated window; overlapping/adjacent
# duplicated windows merge into maximal spans (gaps-and-islands over
# positions). Complements q68's disjoint-chunk corpus-frequency pass:
# stride-1 catches copies at ANY word offset and reports the true
# extent of each copied passage. W=6 picked empirically: at sf0.01 it
# flags 47/500 docs — the corpus's actual near-dup pairs, not chance
# collisions of the ~40-word vocabulary.

_SPAN_W = 6
_SPAN_MIN_DOCS = 2


@register(
    "q146_duplicated_spans",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_W_SQL} AS __w FROM documents
    ), g AS (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(__w, i, i + {_SPAN_W - 1}), ' ') AS gram
      FROM w, unnest(generate_series(1, len(__w) - {_SPAN_W - 1})) AS t(i)
    ), dup AS (
      SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM g)
      GROUP BY gram HAVING count(*) >= {_SPAN_MIN_DOCS}
    ), hits AS (
      SELECT doc_id, pos FROM g JOIN dup USING (gram)
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                    OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {_SPAN_W}
                  THEN 1 ELSE 0 END AS ni
      FROM hits
    ), isl2 AS (
      SELECT doc_id, pos,
             SUM(CAST(ni AS BIGINT)) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    ), spans AS (
      SELECT doc_id, island, min(pos) AS s, max(pos) AS e, count(*) AS nw
      FROM isl2 GROUP BY doc_id, island
    ), per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS INTEGER) AS n_dup_spans,
             CAST(sum(e - s + {_SPAN_W}) AS INTEGER) AS dup_span_words,
             CAST(max(e - s + {_SPAN_W}) AS INTEGER) AS max_span_words,
             CAST(sum(nw) AS INTEGER) AS n_dup_windows
      FROM spans GROUP BY doc_id
    ), tot AS (
      SELECT doc_id, CAST(count(*) AS INTEGER) AS n_windows FROM g GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_windows,
           CAST(COALESCE(p.n_dup_windows, 0) AS INTEGER) AS n_dup_windows,
           CAST(COALESCE(p.n_dup_spans, 0) AS INTEGER) AS n_dup_spans,
           CAST(COALESCE(p.dup_span_words, 0) AS INTEGER) AS dup_span_words,
           CAST(COALESCE(p.max_span_words, 0) AS INTEGER) AS max_span_words
    FROM tot t LEFT JOIN per_doc p USING (doc_id)
    ORDER BY doc_id
    """,
)
def q146_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-1 duplicated-span report: per document (≥ 6 words), the
    total 6-word windows, how many also occur in another document, and
    the merged maximal spans they form (count, union word coverage,
    longest span) — all exact integers.

    Scale shape: window fan-out is narrow; the duplicated-gram set is
    one distinct + count on the uniform gram key (map-side combine);
    join-back on the same key; the island merge windows only within a
    document. See operators/scrub.py:duplicated_spans."""
    docs = load_table(spark, sf_dir, "documents")
    return duplicated_spans(
        docs, "doc_id", "text", w=_SPAN_W, min_docs=_SPAN_MIN_DOCS
    ).orderBy("doc_id")


# --------------------------------------------------------------- q168
# Winnowing fingerprints (the MOSS scheme): per position a k-char-gram
# hash, per w-window the minimum hash — guaranteed to select at least
# one fingerprint from every w consecutive grams, so two documents
# sharing any substring of length >= k + w - 1 share a fingerprint.
# The stride-robust alternative to single rolling-hash fingerprints
# (q39) and to exact window dedup (q146).

_WIN_K = 5
_WIN_W = 4


@register(
    "q168_winnowing_fps",
    oracle=f"""
    WITH hx AS (
      SELECT doc_id,
             list_transform(generate_series(1, length(text) - {_WIN_K - 1}),
               i -> CAST(concat('0x', substring(md5(substring(text, i, {_WIN_K})), 1, 15)) AS BIGINT)) AS h
      FROM documents WHERE length(text) >= {_WIN_K + _WIN_W - 1}
    ),
    fps AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(h) - {_WIN_W - 1}),
               j -> list_aggregate(list_slice(h, j, j + {_WIN_W - 1}), 'min'))) AS fp
      FROM hx
    ),
    exploded AS (SELECT doc_id, unnest(fp) AS f FROM fps),
    shared AS (
      SELECT f FROM exploded GROUP BY f
      HAVING min(doc_id) <> max(doc_id)
    ),
    sh AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
      FROM exploded JOIN shared USING (f) GROUP BY doc_id
    )
    SELECT p.doc_id,
           CAST(len(p.fp) AS BIGINT) AS n_fps,
           CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared_fps,
           CAST(CAST(COALESCE(sh.n_shared, 0) AS BIGINT) * 1000000
             // len(p.fp) AS BIGINT) AS shared_ppm
    FROM fps p LEFT JOIN sh USING (doc_id)
    ORDER BY doc_id
    """,
)
def q168_winnowing_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint report: per document the distinct
    window-min fingerprints, how many also appear in another document,
    and the shared fraction in exact integer ppm. Guarantee: any
    cross-document substring match of length >= k + w - 1 = 8 chars
    surfaces as a shared fingerprint, at ~1/w the index size of
    every-gram hashing.

    Scale shape: fingerprint selection is a narrow projection (nested
    bounded lambdas over one document's grams); the shared set is ONE
    map-side-combining min<>max aggregation on the uniform fingerprint
    key (the q146 trick) plus the join-back on the same key; per-doc
    output is one row. The gram hashes are bound once per document
    through a single-element ``transform`` scope, so no optimizer rule
    can inline their md5s into the per-window lambda (a Project-level
    alias was inlined by the ``size(fp) > 0`` filter ``explode`` infers:
    O(L²) md5 calls per document)."""
    k, w = _WIN_K, _WIN_W
    hx = (
        f"transform(sequence(1, length(text) - {k - 1}), "
        f"i -> CAST(conv(substring(md5(substring(text, i, {k})), 1, 15), 16, 10) AS BIGINT))"
    )
    fp = (
        f"transform(array({hx}), __h -> array_distinct(transform("
        f"sequence(1, size(__h) - {w - 1}), j -> array_min(slice(__h, j, {w})))))[0]"
    )
    docs = load_table(spark, sf_dir, "documents")
    fps = docs.where(F.length("text") >= k + w - 1).select("doc_id", F.expr(fp).alias("fp"))
    exploded = fps.select("doc_id", F.explode("fp").alias("f"))
    shared = (
        exploded.groupBy("f")
        .agg(F.min("doc_id").alias("__lo"), F.max("doc_id").alias("__hi"))
        .where(F.col("__lo") != F.col("__hi"))
        .select("f")
    )
    sh = exploded.join(shared, "f").groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shared")
    )
    return (
        fps.join(sh, "doc_id", "left")
        .select(
            "doc_id",
            F.size("fp").cast("long").alias("n_fps"),
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared_fps"),
        )
        .withColumn("shared_ppm", F.expr("n_shared_fps * 1000000 div n_fps"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------- q161
# The output half of exact-substring dedup: q146 reports the duplicated
# spans, this REWRITES the corpus without them — per document, the
# whitespace-normalized text with every word covered by a duplicated
# window removed. The deliverable of the "Deduplicating Training Data"
# protocol is this scrubbed corpus, not the report.


@register(
    "q161_span_scrub",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_W_SQL} AS __w FROM documents
    ), g AS (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(__w, i, i + {_SPAN_W - 1}), ' ') AS gram
      FROM w, unnest(generate_series(1, len(__w) - {_SPAN_W - 1})) AS t(i)
    ), dup AS (
      SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM g)
      GROUP BY gram HAVING count(*) >= {_SPAN_MIN_DOCS}
    ), hits AS (
      SELECT doc_id, pos FROM g JOIN dup USING (gram)
    ), cov AS (
      SELECT doc_id, list_sort(list(p)) AS cv FROM (
        SELECT DISTINCT doc_id, pos + o AS p
        FROM hits, unnest(generate_series(0, {_SPAN_W - 1})) AS t(o)
      ) GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(len(__w) AS INTEGER) AS n_words,
           CAST(COALESCE(len(cv), 0) AS INTEGER) AS n_scrubbed,
           COALESCE(array_to_string(list_transform(
             list_filter(generate_series(1, len(__w)),
               p -> cv IS NULL OR NOT list_contains(cv, p)), p -> __w[p]), ' '),
             '') AS scrubbed_text
    FROM w LEFT JOIN cov USING (doc_id)
    ORDER BY doc_id
    """,
)
def q161_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewrite the corpus with duplicated spans REMOVED: every word
    position covered by a 6-word window that also occurs in another
    document is dropped; per doc the word count, scrubbed-position
    count, and the scrubbed (whitespace-normalized lowercased) text.

    Scale shape: span discovery is the q146 hits sliver; covered
    indices explode only off that sliver and collapse to one bounded
    array per affected doc; the rebuild is a single narrow projection
    over the corpus joined against the sliver (AQE broadcast). The
    full corpus is read twice and shuffled never (fan-out keys are
    uniform xxhash64 grams). See operators/scrub.py:
    scrub_duplicated_spans."""
    from ..operators.scrub import scrub_duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    return scrub_duplicated_spans(
        docs, "doc_id", "text", w=_SPAN_W, min_docs=_SPAN_MIN_DOCS
    ).orderBy("doc_id")


# --------------------------------------------------------------- q183
# URL canonicalization + host-level dedup — the standard FIRST pass of
# a web-crawl curation pipeline (CCNet/RefinedWeb/C4 dedup by
# canonical URL before any content hashing). The testdata carries no
# URL column, so the query synthesizes a deterministic messy URL per
# document from (doc_id, source) — mixed-case schemes/hosts, default
# and non-default ports, trailing slashes, tracking params in shuffled
# order, fragments — and both engines canonicalize it with the same
# string surgery (operators/web.py rules), so every canonical form,
# keeper election and host rollup value is oracle-pinned.

_URL_SYNTH_SPARK = """concat(
  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https'
       WHEN 2 THEN 'http' ELSE 'HTTPS' END,
  '://',
  CASE CAST(doc_id % 3 AS INT)
       WHEN 0 THEN concat('WWW.', upper(source), '.Example.COM')
       WHEN 1 THEN concat('www.', source, '.example.com')
       ELSE concat('cdn.', source, '.example.com') END,
  CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN ':80' WHEN 1 THEN ':443'
       WHEN 2 THEN ':8080' ELSE '' END,
  '/Docs/', CAST(doc_id % 40 AS STRING),
  CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
  CASE CAST(doc_id % 6 AS INT) WHEN 0 THEN '?utm_source=feed&b=2&a=1'
       WHEN 1 THEN '?a=1&b=2' WHEN 2 THEN '?b=2&a=1&gclid=xyz'
       WHEN 3 THEN '?utm_campaign=x' WHEN 4 THEN '?ref=homepage'
       ELSE '' END,
  CASE WHEN doc_id % 7 = 0 THEN '#Section-2' ELSE '' END)"""

_URL_SYNTH_DUCK = _URL_SYNTH_SPARK.replace("AS STRING", "AS VARCHAR")

_TRACK_KEYS_DUCK = "['gclid', 'fbclid', 'msclkid', 'ref', 'referrer']"


def url_canon_ctes(src: str) -> str:
    """The canonical-URL CTE chain (parts → hp → qp → canon) over any
    relation ``src`` exposing (doc_id, url) — ONE copy of the DuckDB
    canonicalization formula, shared by q183 and the q187 full funnel
    so the two can never drift. ``canon`` yields
    (doc_id, url, host, canonical_url)."""
    return f"""parts AS (
      SELECT doc_id, url,
             lower(split_part(split_part(url, '#', 1), '://', 1)) AS scheme,
             split_part(split_part(url, '#', 1), '://', 2) AS rest
      FROM {src}
    ),
    hp AS (
      SELECT *,
             split_part(split_part(rest, '/', 1), '?', 1) AS hostport,
             CASE WHEN instr(rest, '/') > 0
                  THEN substring(rest, instr(rest, '/')) ELSE '/' END AS pathq
      FROM parts
    ),
    qp AS (
      -- COALESCE: DuckDB's array_to_string over an EMPTY list is
      -- NULL, not '' (Spark's array_join is '') — without it every
      -- tracking-only/empty query string nulls the whole concat
      SELECT *, COALESCE(array_to_string(list_sort(list_filter(
                  string_split(split_part(pathq, '?', 2), '&'),
                  p -> p <> '' AND NOT starts_with(split_part(p, '=', 1), 'utm_')
                       AND NOT list_contains({_TRACK_KEYS_DUCK}, split_part(p, '=', 1)))), '&'),
                '') AS qjoin
      FROM hp
    ),
    canon AS (
      SELECT doc_id, url,
             lower(split_part(hostport, ':', 1)) AS host,
             scheme || '://' || lower(split_part(hostport, ':', 1)) ||
             CASE WHEN nullif(split_part(hostport, ':', 2), '') IS NULL
                       OR (scheme = 'http' AND split_part(hostport, ':', 2) = '80')
                       OR (scheme = 'https' AND split_part(hostport, ':', 2) = '443')
                  THEN '' ELSE ':' || split_part(hostport, ':', 2) END ||
             CASE WHEN regexp_replace(split_part(pathq, '?', 1), '/+$', '') = ''
                  THEN '/' ELSE regexp_replace(split_part(pathq, '?', 1), '/+$', '') END ||
             CASE WHEN qjoin = '' THEN '' ELSE '?' || qjoin END AS canonical_url
      FROM qp
    )"""


@register(
    "q183_url_dedup",
    oracle=f"""
    WITH raw AS (SELECT doc_id, {_URL_SYNTH_DUCK} AS url FROM documents),
    {url_canon_ctes('raw')},
    groups AS (
      SELECT canonical_url, CAST(MIN(doc_id) AS BIGINT) AS url_keeper_id,
             CAST(COUNT(*) AS BIGINT) AS n_url_dups
      FROM canon GROUP BY canonical_url
    ),
    hosts AS (
      SELECT host, CAST(COUNT(*) AS BIGINT) AS host_docs,
             CAST(COUNT(DISTINCT canonical_url) AS BIGINT) AS host_unique_urls
      FROM canon GROUP BY host
    )
    SELECT c.doc_id, c.host, c.canonical_url, g.url_keeper_id, g.n_url_dups,
           c.doc_id = g.url_keeper_id AS is_url_keeper,
           h.host_docs, h.host_unique_urls
    FROM canon c JOIN groups g USING (canonical_url) JOIN hosts h USING (host)
    ORDER BY doc_id
    """,
)
def q183_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup + per-host crawl profile: synthesize the
    deterministic messy URL per document, canonicalize (lowercase
    scheme/host, default ports and fragments dropped, trailing slash
    and tracking-param/order normalization), elect the min-doc_id
    keeper per canonical URL, and attach the host rollup
    (docs vs unique canonical URLs — a high ratio marks a boilerplate
    farm). Canonicalization is a narrow codegen projection; the dedup
    is one uniform-key shuffle; the host rollup broadcasts back. See
    operators/web.py for the rules and the 100 TB shape."""
    from ..operators.web import url_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_SYNTH_SPARK).alias("url")
    )
    return url_dedup(docs, "doc_id", "url").orderBy("doc_id")


# ---------------------------------------------------------------- q193
# Benchmark-item reach (round 10): the TRANSPOSE of q65 — q65 reports
# which TRAINING docs are contaminated; this reports which BENCHMARK
# items are burned, and how widely. An eval owner reads this row to
# decide whether an item can stay in the suite (reach 0), needs the
# contaminated training docs scrubbed (small reach, one source), or is
# hopeless boilerplate that must be dropped from eval (reach across
# many sources). Every benchmark doc keeps a row (reach 0 = clean).


@register(
    "q193_benchmark_reach",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source, {_W_SQL} AS __w FROM documents
    ), g AS (
      SELECT doc_id, source, {_grams_sql(_DECON_N)} AS grams FROM w
    ), bg AS (
      SELECT DISTINCT doc_id AS bench_id, gram
      FROM (SELECT doc_id, unnest(grams) AS gram FROM g
            WHERE doc_id % {_BENCH_MOD} = 0)
    ), cg AS (
      SELECT doc_id, source, unnest(grams) AS gram FROM g
      WHERE doc_id % {_BENCH_MOD} <> 0
    ), pairs AS (
      SELECT DISTINCT b.bench_id, c.doc_id, c.source
      FROM cg c JOIN bg b USING (gram)
    ), reach AS (
      SELECT bench_id,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_corpus_hits,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      FROM pairs GROUP BY bench_id
    ), per_src AS (
      SELECT bench_id, source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS c
      FROM pairs GROUP BY bench_id, source
    ), top AS (
      SELECT bench_id, source AS top_source, c AS top_source_hits FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY bench_id
          ORDER BY c DESC, source) AS rn
        FROM per_src
      ) WHERE rn = 1
    )
    SELECT d.doc_id AS bench_id,
           CAST(COALESCE(r.n_corpus_hits, 0) AS BIGINT) AS n_corpus_hits,
           CAST(COALESCE(r.n_sources, 0) AS BIGINT) AS n_sources,
           t.top_source, t.top_source_hits,
           COALESCE(r.n_corpus_hits, 0) > 0 AS is_burned
    FROM (SELECT doc_id FROM documents WHERE doc_id % {_BENCH_MOD} = 0) d
    LEFT JOIN reach r ON r.bench_id = d.doc_id
    LEFT JOIN top t ON t.bench_id = d.doc_id
    ORDER BY bench_id
    """,
)
def q193_benchmark_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark-item contamination reach: distinct contaminated
    corpus docs, distinct sources reached, the top source by hit count
    (ties to the lexicographically smallest) and a burned flag; every
    benchmark doc keeps a row.

    Scale shape: SAME join direction as q65 — the benchmark gram set
    is benchmark-sized and broadcasts (here carrying its bench_id so
    the reach aggregates per item), the corpus grams fan out in a
    projection and never shuffle for the join; the (bench, corpus,
    source) pair set is bounded by actual contamination, and the two
    aggregations key on bench_id — benchmark-sized exchanges. Output
    is O(|benchmark|)."""
    docs = load_table(spark, sf_dir, "documents")
    bg = (
        docs.where(F.col("doc_id") % _BENCH_MOD == 0)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.explode(word_ngrams("text", _DECON_N)).alias("gram"),
        )
        .distinct()
    )
    pairs = (
        docs.where(F.col("doc_id") % _BENCH_MOD != 0)
        .select(
            "doc_id", "source", F.explode(word_ngrams("text", _DECON_N)).alias("gram")
        )
        .join(F.broadcast(bg), "gram")
        .select("bench_id", "doc_id", "source")
        .distinct()
    )
    # ONE consumer of the corpus-gram fan-out (before round 10 both
    # reach and per_src aggregated the pair set independently, so the
    # fan-out + broadcast join — the only corpus-scale work here —
    # evaluated once per consumer). Each document has exactly one
    # source, so the per-bench distinct-doc count is the SUM of its
    # per-source counts, and the top source is the min_by argmax over
    # the same per-source rows: reach + top collapse into per_src →
    # one bench-keyed aggregation — one corpus pass, one join, nothing
    # staged (guide §1.2: fewer passes; §2.3: shuffle the summary, not
    # the rows). pairs is distinct on (bench, doc, source), so
    # count(*) per (bench, source) IS the distinct-doc count, and
    # min_by over (-c, source) IS the ROW_NUMBER (c DESC, source)
    # argmax (the key is unique per group — no tie ambiguity).
    # Load-bearing data invariants (ADVICE r10 #2), both guaranteed by
    # the fixture generator and by any upstream that treats source as
    # a required document attribute: (a) doc_id → source is FUNCTIONAL
    # (one source per document), otherwise n_corpus_hits = Σ per-source
    # counts would overcount multi-source docs vs the former per-bench
    # distinct-doc count; and (b) source is NON-NULL — a NULL source
    # would form its own per-source group here (n_sources = count(*)
    # over groups counts it) where the former countDistinct("source")
    # silently excluded it. The DuckDB oracle computes the same
    # grouped form, so the hash gate pins today's behavior either way;
    # this comment records which data properties the equivalence
    # argument leans on.
    per_src = pairs.groupBy("bench_id", "source").agg(
        F.count("*").cast("long").alias("c")
    )
    reach = per_src.groupBy("bench_id").agg(
        F.sum("c").cast("long").alias("n_corpus_hits"),
        F.count("*").cast("long").alias("n_sources"),
        F.expr("min_by(source, struct(-c, source))").alias("top_source"),
        F.expr("min_by(c, struct(-c, source))").cast("long").alias("top_source_hits"),
    )
    return (
        docs.where(F.col("doc_id") % _BENCH_MOD == 0)
        .select(F.col("doc_id").alias("bench_id"))
        .join(reach, "bench_id", "left")
        .select(
            "bench_id",
            F.coalesce("n_corpus_hits", F.lit(0).cast("long")).alias("n_corpus_hits"),
            F.coalesce("n_sources", F.lit(0).cast("long")).alias("n_sources"),
            "top_source",
            "top_source_hits",
            (F.coalesce("n_corpus_hits", F.lit(0)) > 0).alias("is_burned"),
        )
        .orderBy("bench_id")
    )

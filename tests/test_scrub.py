"""Unit tests for the corpus-scrubbing operators (operators/scrub.py).

The full-query oracle equivalence for q65–q68 lives in
test_queries_oracle.py (every registered query runs against DuckDB);
these tests isolate the operator edge cases: the short-document
sequence guard, redaction-order independence, broadcast shape of the
decontamination join, and repetition metrics on a crafted corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_SMOKE

from redshift_avro_spark.operators.scrub import (
    decontaminate_candidates,
    repetition_metrics,
    scrub_pii,
    word_ngrams,
)


def test_word_ngrams_short_doc_guard(spark):
    # Spark's sequence(1, k) DESCENDS for k < 1 — a 2-word doc must
    # yield [] for 3-grams, not garbage from a descending sequence.
    df = spark.createDataFrame(
        [("a b",), ("a b c",), ("a b c d",)], ["text"]
    ).select(word_ngrams("text", 3).alias("g"))
    rows = [r.g for r in df.collect()]
    assert rows[0] == []
    assert rows[1] == ["a b c"]
    assert rows[2] == ["a b c", "b c d"]


def test_word_ngrams_distinct_dedups_repeats(spark):
    df = spark.createDataFrame([("x x x x",)], ["text"])
    distinct = df.select(word_ngrams("text", 2).alias("g")).head().g
    full = df.select(word_ngrams("text", 2, distinct=False).alias("g")).head().g
    assert distinct == ["x x"]
    assert full == ["x x", "x x", "x x"]


def test_scrub_pii_counts_and_redaction(spark):
    text = "reach me <bob.smith+a@mail.example.org> tel:12-345-678-9012 ip:10.0.255.1 end"
    row = (
        spark.createDataFrame([(text,)], ["t"])
        .select(scrub_pii("t").alias("s"))
        .head()
        .s
    )
    assert row.n_email == 1 and row.n_phone == 1 and row.n_ip == 1
    assert row.scrubbed == "reach me <[EMAIL]> tel:[PHONE] ip:[IP] end"


def test_scrub_pii_counts_taken_before_replacement(spark):
    # The email contains a phone-shaped digit run; counting AFTER the
    # email redaction would miss it, counting on the original must not
    # double-redact either.
    text = "a 12-345-678-9012@host.com b 99-888-777-6666 c"
    row = (
        spark.createDataFrame([(text,)], ["t"])
        .select(scrub_pii("t").alias("s"))
        .head()
        .s
    )
    # the @-form is one email (pattern allows digits/dashes in local
    # part); the bare number is one phone
    assert row.n_email == 1
    assert row.n_phone >= 1
    assert "[EMAIL]" in row.scrubbed and "[PHONE]" in row.scrubbed


def test_decontaminate_broadcasts_benchmark(spark):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "lorem ipsum dolor sit amet"), (3, "tiny")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(9, "quick brown fox runs fast")], ["doc_id", "text"])
    out = decontaminate_candidates(corpus, bench, n=3)
    got = {(r.doc_id, r.n_hit_grams) for r in out.collect()}
    # corpus doc 1 shares exactly the 3-gram "quick brown fox"
    assert got == {(1, 1)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_repetition_metrics_crafted(spark):
    # "a b a b a b" → 2-grams: [a b, b a, a b, b a, a b] → 5 total,
    # 2 distinct, top count 3
    df = spark.createDataFrame([(7, "a b a b a b")], ["doc_id", "text"])
    r = repetition_metrics(df, n=2).head()
    assert r.n_grams == 5
    assert abs(r.dup_gram_fraction - round(1 - 2 / 5, 6)) < 1e-12
    assert abs(r.top_gram_share - round(3 / 5, 6)) < 1e-12


def test_duplicated_spans_crafted(spark):
    # Two docs share the 8-word run "p q r s t u v w" (positions 3-10 in
    # doc 1, 1-8 in doc 2): with w=3 that is 6 overlapping duplicated
    # windows each, merging into ONE span of 8 words. Doc 3 shares
    # nothing. Doc 4 is too short for any window (absent from output).
    from redshift_avro_spark.operators.scrub import duplicated_spans

    docs = spark.createDataFrame(
        [
            (1, "x y p q r s t u v w z"),
            (2, "p q r s t u v w a b c"),
            (3, "m n o m n o m n o"),
            (4, "a b"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in duplicated_spans(docs, w=3, min_docs=2).collect()
    }
    assert set(out) == {1, 2, 3}  # doc 4: no 3-word window
    assert out[1].n_windows == 9 and out[2].n_windows == 9
    assert out[1].n_dup_windows == 6 and out[2].n_dup_windows == 6
    assert out[1].n_dup_spans == 1 and out[2].n_dup_spans == 1
    assert out[1].dup_span_words == 8 and out[2].dup_span_words == 8
    assert out[1].max_span_words == 8
    # doc 3 repeats "m n o" only WITHIN itself — cross-doc min_docs=2
    # must not flag it.
    assert out[3].n_dup_windows == 0 and out[3].n_dup_spans == 0


def test_duplicated_spans_two_disjoint_spans(spark):
    # Doc 1 copies two separated runs from doc 2: the gap (> w) must
    # split them into TWO spans, and coverage sums both.
    from redshift_avro_spark.operators.scrub import duplicated_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c x1 x2 x3 x4 x5 d e f"),
            (2, "a b c q q q q q d e f"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in duplicated_spans(docs, w=3, min_docs=2).collect()
    }
    assert out[1].n_dup_spans == 2
    assert out[1].dup_span_words == 6  # "a b c" + "d e f"
    assert out[1].max_span_words == 3


class TestWinnowing:
    def test_substring_guarantee(self, spark):
        from redshift_avro_spark.queries import load_all
        import os, tempfile, shutil

        reg = load_all()
        tmp = tempfile.mkdtemp(prefix="winnow_")
        try:
            # docs 1 and 2 share the 12-char substring "hello-world!"
            # (>= k + w - 1 = 8): winnowing MUST surface a shared
            # fingerprint in both. doc 3 shares nothing.
            rows = [
                (1, "xxxxhello-world!yyyy", "en", "a", 20),
                (2, "zzhello-world!qq", "en", "b", 16),
                (3, "abcdefghijklmnop", "en", "c", 16),
            ]
            spark.createDataFrame(
                rows, "doc_id long, text string, lang string, source string, n_chars long"
            ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
            out = {r["doc_id"]: r for r in reg["q168_winnowing_fps"].fn(spark, tmp).collect()}
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        assert out[1]["n_shared_fps"] >= 1
        assert out[2]["n_shared_fps"] >= 1
        assert out[3]["n_shared_fps"] == 0
        for r in out.values():
            assert 0 <= r["shared_ppm"] <= 1_000_000
            assert r["n_fps"] >= 1

    def test_compression_vs_full_gram_set(self, spark):
        # winnowing selects ~2/(w+1) of all gram hashes; with w=4 the
        # fingerprint set must be well under half the gram count
        from redshift_avro_spark.queries import load_all

        reg = load_all()
        row = (
            reg["q168_winnowing_fps"].fn(spark, SF_SMOKE)
            .agg(
                F.sum("n_fps").alias("fps"),
            )
            .collect()[0]
        )
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        total_grams = docs.select(
            F.sum(F.greatest(F.length("text") - 4, F.lit(0))).alias("g")
        ).collect()[0]["g"]
        assert row["fps"] < total_grams / 2

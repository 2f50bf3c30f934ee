"""Round-8 operator tests: URL canonicalization, embedding and IVF
decontamination, the repetition audit, the C4 line filter and the
zero-norm seed guard."""

from __future__ import annotations

import pytest


class TestUrlCanonicalization:
    # (input, canonical) — the operator's documented rule table
    TABLE = [
        ("HTTP://Example.COM:80/a/", "http://example.com/a"),
        ("https://example.com:443/", "https://example.com/"),
        ("https://example.com:80/x", "https://example.com:80/x"),
        ("http://example.com:8080/x", "http://example.com:8080/x"),
        ("http://example.com", "http://example.com/"),
        (
            "http://example.com/a?utm_source=x&b=2&a=1#frag",
            "http://example.com/a?a=1&b=2",
        ),
        ("http://example.com/a?gclid=1&ref=z", "http://example.com/a"),
        ("http://example.com/a//", "http://example.com/a"),
        ("http://example.com/?b=2&a=1", "http://example.com/?a=1&b=2"),
        ("http://example.com/CaseKept/Path", "http://example.com/CaseKept/Path"),
        ("http://example.com/a#only-frag", "http://example.com/a"),
    ]

    def test_canonicalization_table(self, spark):
        from redshift_avro_spark.operators.web import canonicalize_urls

        df = spark.createDataFrame(
            [(i, u) for i, (u, _) in enumerate(self.TABLE)], "id INT, url STRING"
        )
        got = {
            r["id"]: r["canonical_url"]
            for r in canonicalize_urls(df, "url").collect()
        }
        for i, (u, want) in enumerate(self.TABLE):
            assert got[i] == want, f"{u!r}: {got[i]!r} != {want!r}"

    def test_url_dedup_keeper_and_host_rollup(self, spark):
        from redshift_avro_spark.operators.web import url_dedup

        df = spark.createDataFrame(
            [
                (1, "HTTP://A.com/x?utm_source=s"),
                (2, "http://a.COM:80/x"),
                (3, "http://a.com/x/"),
                (4, "http://a.com/y"),
                (5, "https://b.com/x"),
            ],
            "id INT, url STRING",
        )
        rows = {r["id"]: r for r in url_dedup(df, "id").collect()}
        # 1, 2, 3 canonicalize identically → keeper is min id 1
        assert rows[1]["n_url_dups"] == 3 and rows[1]["is_url_keeper"]
        assert rows[2]["url_keeper_id"] == 1 and not rows[2]["is_url_keeper"]
        assert rows[3]["canonical_url"] == "http://a.com/x"
        assert rows[4]["n_url_dups"] == 1 and rows[4]["is_url_keeper"]
        # host rollup: a.com has 4 docs over 2 unique canonical URLs
        assert rows[1]["host_docs"] == 4 and rows[1]["host_unique_urls"] == 2
        assert rows[5]["host_docs"] == 1 and rows[5]["host_unique_urls"] == 1


class TestZeroNormSeedGuard:
    def test_zero_norm_embedding_raises_loudly(self, spark):
        """ADVICE r7 #3: a zero-norm vector's NaN cosine must not key
        the driver seed's band dict per-object (NaN != NaN) — it
        raises with the offending ids, like the old per-row path."""
        import numpy as np
        import pytest

        from redshift_avro_spark.operators.similarity import (
            _driver_seed_oversample_np,
        )

        ids = [1, 2, 3]
        A = np.asarray(
            [[1.0, 0.0], [0.0, 0.0], [0.0, 1.0]], dtype=np.float64
        )
        with pytest.raises(ValueError, match="zero-norm"):
            _driver_seed_oversample_np(ids, A, 2, None)
        # non-degenerate corpora still seed fine
        ok = _driver_seed_oversample_np(
            [1, 2, 3],
            np.asarray([[1.0, 0.0], [0.5, 0.5], [0.0, 1.0]]),
            2,
            None,
        )
        assert len(ok) == 2


class TestEmbeddingDecontaminate:
    def test_planted_leak_is_flagged(self, spark):
        """A corpus vector equal to a benchmark probe (or a scaled
        copy — cosine is scale-invariant) must be flagged; an
        orthogonal vector must not."""
        from redshift_avro_spark.operators.similarity import (
            embedding_decontaminate,
        )

        probes = spark.createDataFrame(
            [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])],
            "probe_id BIGINT, pvec ARRAY<DOUBLE>",
        )
        corpus = spark.createDataFrame(
            [
                (1, [1.0, 0.0, 0.0]),      # exact leak of probe 100
                (2, [0.5, 0.0, 0.0]),      # scaled copy — same cosine
                (3, [0.0, 0.0, 1.0]),      # orthogonal to both
                (4, [0.7, 0.7, 0.0]),      # near both (cos ~0.707)
            ],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        )
        rows = {
            r["vec_id"]: r
            for r in embedding_decontaminate(
                corpus, probes, threshold=0.9, dim=3
            ).collect()
        }
        assert rows[1]["is_contaminated"] and rows[1]["top_probe_id"] == 100
        assert rows[1]["top_probe_cos"] == 1.0
        assert rows[2]["is_contaminated"] and rows[2]["n_probe_hits"] == 1
        assert not rows[3]["is_contaminated"] and rows[3]["n_probe_hits"] == 0
        assert not rows[4]["is_contaminated"]  # 0.707 < 0.9
        assert rows[4]["n_probe_hits"] == 0

    def test_self_pair_excluded_and_tie_break(self, spark):
        """A probe drawn from the corpus must not contaminate itself,
        and equal-cosine ties pick the min probe id."""
        from redshift_avro_spark.operators.similarity import (
            embedding_decontaminate,
        )

        probes = spark.createDataFrame(
            [(7, [1.0, 0.0]), (9, [1.0, 0.0])],
            "probe_id BIGINT, pvec ARRAY<DOUBLE>",
        )
        corpus = spark.createDataFrame(
            [(7, [1.0, 0.0]), (8, [0.0, 1.0])],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        )
        rows = {
            r["vec_id"]: r
            for r in embedding_decontaminate(
                corpus, probes, threshold=0.9, dim=2
            ).collect()
        }
        # vec 7 scores only against probe 9 (self-pair with 7 excluded)
        assert rows[7]["n_probe_hits"] == 1 and rows[7]["top_probe_id"] == 9
        # vec 8 ties 0.0 against both probes → min probe id 7 wins
        assert rows[8]["top_probe_id"] == 7 and not rows[8]["is_contaminated"]


class TestIvfDecontaminate:
    def test_exact_leak_found_and_far_vector_clean(self, spark):
        """An exact copy of a probe lands in the probe's own cell, so
        the IVF-pruned arm must find it; an orthogonal vector stays
        clean. The pruned arm can only ever score a SUBSET of the
        brute arm's pairs (hits_ivf <= hits_exact per vector)."""
        from redshift_avro_spark.operators.similarity import (
            embedding_decontaminate,
            ivf_decontaminate,
        )

        # two well-separated directions, a few vectors around each
        corpus = spark.createDataFrame(
            [
                (1, [1.0, 0.05, 0.0, 0.0]),
                (2, [1.0, 0.0, 0.0, 0.0]),   # exact leak of probe 100
                (3, [0.0, 0.0, 1.0, 0.1]),
                (4, [0.0, 0.0, 0.9, 0.0]),
            ],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        )
        probes = spark.createDataFrame(
            [(100, [1.0, 0.0, 0.0, 0.0])],
            "probe_id BIGINT, pvec ARRAY<DOUBLE>",
        )
        ivf = {
            r["vec_id"]: r
            for r in ivf_decontaminate(
                corpus, probes, threshold=0.9, n_centroids=2,
                n_probe=1, lloyd_iters=2, dim=4,
            ).collect()
        }
        assert ivf[2]["ivf_contaminated"] and ivf[2]["ivf_top_probe_id"] == 100
        assert ivf[2]["ivf_top_probe_cos"] == 1.0
        assert ivf[1]["ivf_contaminated"]  # cos ~0.9988 >= 0.9, same cell
        assert not ivf[3]["ivf_contaminated"]
        assert not ivf[4]["ivf_contaminated"]
        exact = {
            r["vec_id"]: r
            for r in embedding_decontaminate(
                corpus, probes, threshold=0.9, dim=4
            ).collect()
        }
        for vid in ivf:
            assert ivf[vid]["ivf_probe_hits"] <= exact[vid]["n_probe_hits"]

    def test_shared_cells_match_own_training(self, spark):
        """ivf_decontaminate(cells=...) over the shared _semantic_cells
        pass must equal the operator training its own cells with the
        same parameters — sharing is a cost optimization, never a
        value change."""
        from conftest import SF_SMOKE

        from redshift_avro_spark.operators.similarity import ivf_decontaminate
        from redshift_avro_spark.queries import similarity as qs

        emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
        probes = emb.where("vec_id % 97 = 0").selectExpr(
            "vec_id AS probe_id", "embedding AS pvec"
        )
        shared = ivf_decontaminate(
            emb, probes, threshold=0.28, n_probe=2, dim=64,
            cells=qs._sd_cells(spark, SF_SMOKE),
        )
        own = ivf_decontaminate(
            emb, probes, threshold=0.28, n_centroids=8, n_probe=2,
            lloyd_iters=2, dim=64,
        )
        a = sorted(map(tuple, shared.collect()))
        b = sorted(map(tuple, own.collect()))
        assert a == b


class TestC4LineFilter:
    def test_rule_precedence_and_rebuild(self, spark):
        """First matching rule wins (short → punct → phrase); the
        cleaned digest hashes exactly the kept lines joined by \\n."""
        import hashlib

        from redshift_avro_spark.operators.text import c4_line_filter

        good1 = "this line is long enough."
        good2 = "another good long line!"
        df = spark.createDataFrame(
            [
                (
                    1,
                    "\n".join(
                        [
                            good1,
                            "short one",  # rule 1
                            "this has no terminal punct here",  # rule 2
                            "contains lorem ipsum filler text.",  # rule 3
                            good2,
                        ]
                    ),
                ),
                # a short line containing a bad phrase: short wins
                (2, "lorem ipsum.\nok."),
                # quoted terminal punctuation is accepted
                (3, 'a quoted ending line here "'),
            ],
            "doc_id INT, text STRING",
        )
        rows = {r["doc_id"]: r for r in c4_line_filter(df).collect()}
        r1 = rows[1]
        assert (
            r1["n_lines"],
            r1["n_kept_lines"],
            r1["n_dropped_short"],
            r1["n_dropped_punct"],
            r1["n_dropped_phrase"],
        ) == (5, 2, 1, 1, 1)
        assert r1["cleaned_n_words"] == 9
        want = hashlib.md5(f"{good1}\n{good2}".encode()).hexdigest()
        assert r1["cleaned_digest"] == want
        assert rows[2]["n_dropped_short"] == 2 and rows[2]["n_dropped_phrase"] == 0
        assert rows[3]["n_kept_lines"] == 1


class TestRepetitionAuditKeepsEveryDoc:
    def test_null_text_doc_keeps_row(self, spark):
        """ADVICE r7 #2: a NULL-text document must surface with
        n_words = 0 and NULL shares, exactly like sibling
        bigram_lm_scores keeps it with a NULL score — not vanish
        through inner joins and then from the whole q78 profile."""
        from redshift_avro_spark.operators.text import repetition_audit

        df = spark.createDataFrame(
            [(1, "a a a b"), (2, None), (3, "x")],
            "doc_id INT, text STRING",
        )
        rows = {r["doc_id"]: r for r in repetition_audit(df).collect()}
        assert set(rows) == {1, 2, 3}
        assert rows[2]["n_words"] == 0
        assert rows[2]["top_word_share_ppm"] is None
        assert rows[2]["n_bigrams"] == 0
        assert rows[2]["top2gram_share_ppm"] is None
        assert rows[2]["max_word_run"] == 0
        # untouched semantics for docs WITH tokens
        assert rows[1]["n_words"] == 4
        assert rows[1]["top_word_share_ppm"] == 750000
        assert rows[1]["max_word_run"] == 3
        assert rows[3]["n_words"] == 1
        assert rows[3]["n_bigrams"] == 0
        assert rows[3]["top2gram_share_ppm"] is None

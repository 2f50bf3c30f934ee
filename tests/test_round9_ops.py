"""Round-9 surface: the four ADVICE-r8 fixes (NULL-text C4 cleaning,
canonicalize_urls column-clobber guard, cross-namespace decontamination
pair gating) plus the round-9 operators' unit coverage (added below as
they land)."""

from __future__ import annotations

import pytest


class TestC4NullText:
    def test_null_text_is_empty_document(self, spark):
        """NULL text must clean to an empty document (0 lines), not the
        legacy size(NULL) = -1 poison value (ADVICE r8)."""
        from redshift_avro_spark.operators.text import c4_line_filter

        df = spark.createDataFrame(
            [(1, None), (2, "Keep this full sentence here."), (3, "")],
            "doc_id LONG, text STRING",
        )
        rows = {r["doc_id"]: r for r in c4_line_filter(df).collect()}
        assert rows[1]["n_lines"] == 0
        assert rows[1]["n_kept_lines"] == 0
        assert rows[1]["n_dropped_short"] == 0
        assert rows[1]["cleaned_n_words"] == 0
        # digest of the empty rebuild, same as an all-dropped doc
        assert rows[1]["cleaned_digest"] == rows[3]["cleaned_digest"]
        assert rows[2]["n_kept_lines"] == 1
        # the empty string still splits to one (short, dropped) line
        assert rows[3]["n_lines"] == 1
        assert rows[3]["n_dropped_short"] == 1


class TestCanonicalizeUrlsGuard:
    def test_existing_host_column_raises(self, spark):
        from redshift_avro_spark.operators.web import canonicalize_urls

        df = spark.createDataFrame(
            [(1, "http://a.com/x", "pre-existing")],
            "id LONG, url STRING, host STRING",
        )
        with pytest.raises(ValueError, match="host"):
            canonicalize_urls(df, "url")
        # a caller-chosen name sidesteps the collision
        out = canonicalize_urls(df, "url", host_col="url_host")
        assert set(out.columns) == {"id", "url", "host", "canonical_url", "url_host"}
        r = out.collect()[0]
        assert r["host"] == "pre-existing" and r["url_host"] == "a.com"

    def test_existing_out_col_raises(self, spark):
        from redshift_avro_spark.operators.web import canonicalize_urls

        df = spark.createDataFrame(
            [(1, "http://a.com/x", "z")], "id LONG, url STRING, canonical_url STRING"
        )
        with pytest.raises(ValueError, match="canonical_url"):
            canonicalize_urls(df, "url")


class TestCrossNamespaceDecontamination:
    """probe ids from an EXTERNAL benchmark id space must be allowed to
    collide numerically with corpus ids without hiding a real leak
    (ADVICE r8): probes_from_corpus=False disables the id-equality
    self-pair exclusion on both the brute and the IVF arm."""

    def _frames(self, spark):
        # corpus vec_id=7 and probe probe_id=7 are DIFFERENT items that
        # happen to share the number; their vectors are identical, so
        # the pair is a certain leak (cos = 1.0)
        v = [1.0, 0.0, 0.0, 0.0]
        corpus = spark.createDataFrame(
            [(7, v), (8, [0.0, 1.0, 0.0, 0.0])],
            "vec_id LONG, embedding ARRAY<DOUBLE>",
        )
        probes = spark.createDataFrame(
            [(7, v)], "probe_id LONG, pvec ARRAY<DOUBLE>"
        )
        return corpus, probes

    def test_brute_arm(self, spark):
        from redshift_avro_spark.operators.similarity import embedding_decontaminate

        corpus, probes = self._frames(spark)
        kw = dict(threshold=0.9, dim=4)
        same_space = {
            r["vec_id"]: r for r in embedding_decontaminate(corpus, probes, **kw).collect()
        }
        assert not same_space[7]["is_contaminated"]  # excluded as a self-pair
        cross = {
            r["vec_id"]: r
            for r in embedding_decontaminate(
                corpus, probes, probes_from_corpus=False, **kw
            ).collect()
        }
        assert cross[7]["is_contaminated"] and cross[7]["n_probe_hits"] == 1
        assert cross[7]["top_probe_id"] == 7
        assert not cross[8]["is_contaminated"]

    def test_ivf_arm(self, spark):
        from redshift_avro_spark.operators.similarity import ivf_decontaminate

        corpus, probes = self._frames(spark)
        kw = dict(threshold=0.9, n_centroids=1, n_probe=1, lloyd_iters=1, dim=4)
        same_space = {
            r["vec_id"]: r for r in ivf_decontaminate(corpus, probes, **kw).collect()
        }
        assert not same_space[7]["ivf_contaminated"]
        cross = {
            r["vec_id"]: r
            for r in ivf_decontaminate(
                corpus, probes, probes_from_corpus=False, **kw
            ).collect()
        }
        assert cross[7]["ivf_contaminated"] and cross[7]["ivf_probe_hits"] == 1


class TestTrigramLM:
    def test_fluent_outranks_gibberish(self, spark):
        """The KN-backoff ordering property (VERDICT r8 #2): documents
        whose word transitions are corpus-typical must score above a
        planted gibberish doc whose every trigram is novel — with
        D = 1, a hapax trigram contributes only backoff mass, so the
        gibberish doc's mean ppm sits far below the fluent docs'."""
        from redshift_avro_spark.operators.text import trigram_lm_scores

        fluent = "the cat sat on the mat and the dog ran to the mat"
        rows = [(i, fluent) for i in range(20)]
        # same vocabulary, shuffled order → every trigram is unseen
        # elsewhere (each occurs exactly once, in this doc)
        rows.append((100, "mat the on dog to sat ran cat mat and the the"))
        rows.append((101, "hi"))  # < 3 words → 0 trigrams, NULL score
        df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        got = {r["doc_id"]: r for r in trigram_lm_scores(df).collect()}
        assert got[101]["n_trigrams"] == 0 and got[101]["kn_score_ppm"] is None
        assert got[100]["n_trigrams"] == 10
        fluent_score = got[0]["kn_score_ppm"]
        assert all(got[i]["kn_score_ppm"] == fluent_score for i in range(20))
        assert got[100]["kn_score_ppm"] < fluent_score / 2, (
            got[100]["kn_score_ppm"],
            fluent_score,
        )

    def test_backoff_mass_reaches_unseen_context(self, spark):
        """A trigram seen once (c3 = 1, discounted to 0) still gets a
        positive score when its LAST-TWO-WORD bigram is corpus-common
        — the KN continuation path, which a pure trigram MLE (q180
        shape) would zero out."""
        from redshift_avro_spark.operators.text import trigram_lm_scores

        rows = [(i, "big dogs run fast today") for i in range(10)]
        # 'small dogs run' is a novel trigram, but 'dogs run' is common
        rows.append((50, "small dogs run fast today"))
        df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        got = {r["doc_id"]: r for r in trigram_lm_scores(df).collect()}
        assert got[50]["kn_score_ppm"] > 0
        assert got[50]["kn_score_ppm"] < got[0]["kn_score_ppm"]


class TestIvfDecontamRecallSweep:
    def test_recall_monotone_in_n_probe(self, spark):
        """VERDICT r8 #7: the docstring's 'raise n_probe to close the
        gap' claim, demonstrated — recall of the IVF-pruned arm
        against the brute-force contaminated set is monotone
        non-decreasing in n_probe (cell lists grow as supersets, so
        candidate pairs and hits can only grow)."""
        from conftest import SF_SMOKE

        from redshift_avro_spark.operators.similarity import (
            embedding_decontaminate,
            ivf_decontaminate,
        )

        emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
        probes = emb.where("vec_id % 97 = 0").selectExpr(
            "vec_id AS probe_id", "embedding AS pvec"
        )
        exact = {
            r["vec_id"]
            for r in embedding_decontaminate(emb, probes, threshold=0.28, dim=64)
            .where("is_contaminated")
            .collect()
        }
        assert exact, "fixture must plant at least one leak"
        recalls = []
        for n_probe in (1, 2, 4, 8):
            found = {
                r["vec_id"]
                for r in ivf_decontaminate(
                    emb, probes, threshold=0.28, n_centroids=8,
                    n_probe=n_probe, lloyd_iters=2, dim=64,
                )
                .where("ivf_contaminated")
                .collect()
            }
            assert found <= exact, "pruned arm can never flag a non-leak"
            recalls.append(len(found & exact) / len(exact))
        assert recalls == sorted(recalls), recalls
        # raising n_probe genuinely closes the gap (not a flat curve)
        assert recalls[-1] > recalls[0]
        # n_probe = n_centroids probes EVERY cell → all pairs are
        # candidates → recall is exactly 1.0 by construction
        assert recalls[-1] == 1.0, recalls


class TestFilterAgreement:
    def test_kappa_arithmetic_and_shape(self, spark):
        """q189 invariants at the smoke corpus: six lexicographic
        pairs, ppm ranges, and kappa recomputed INDEPENDENTLY from the
        emitted counts with the same sign-split integer formula (the
        driver-side arithmetic and this reimplementation must agree)."""
        from conftest import SF_SMOKE

        from redshift_avro_spark.queries import load_all

        rows = load_all()["q189_filter_agreement"].fn(spark, SF_SMOKE).collect()
        S = 1_000_000
        assert [(r["filter_a"], r["filter_b"]) for r in rows] == [
            ("clf", "heur"), ("clf", "lm"), ("clf", "rep"),
            ("heur", "lm"), ("heur", "rep"), ("lm", "rep"),
        ]
        for r in rows:
            n, ka, kb = r["n_docs"], r["a_keep_n"], r["b_keep_n"]
            assert 0 <= r["n_agree"] <= n and 0 < n
            po = r["n_agree"] * S // n
            pa, pb = ka * S // n, kb * S // n
            pe = (pa * pb) // S + ((S - pa) * (S - pb)) // S
            assert r["po_ppm"] == po and r["pe_ppm"] == pe
            if pe == S:
                assert r["kappa_ppm"] is None
            elif po >= pe:
                assert r["kappa_ppm"] == (po - pe) * S // (S - pe)
            else:
                assert r["kappa_ppm"] == -((pe - po) * S // (S - pe))
            assert r["kappa_ppm"] is None or r["kappa_ppm"] <= S

    def test_lm_median_split_keeps_about_half(self, spark):
        """The LM filter thresholds at the corpus histogram-median, so
        its keep count sits in a sane band (not ~0/~all — the failure
        mode of a hardcoded absolute threshold)."""
        from conftest import SF_SMOKE

        from redshift_avro_spark.queries import load_all

        rows = load_all()["q189_filter_agreement"].fn(spark, SF_SMOKE).collect()
        lm_keep = next(
            r["a_keep_n"] for r in rows if r["filter_a"] == "lm"
        )
        n = rows[0]["n_docs"]
        assert 0.3 * n <= lm_keep <= 0.7 * n, (lm_keep, n)


class TestTopNOverlapCutoff:
    def test_topn_bounded_and_subset_of_exact(self, spark):
        """q190's retained sets are bounded at N; every pair it emits
        shares a top gram, hence A gram — its pair-key set must be a
        subset of q163's exact pairs, and containment must replay
        shared * 10^6 div min(topn)."""
        from conftest import SF_SMOKE

        from redshift_avro_spark.queries import load_all

        reg = load_all()
        topn = reg["q190_source_overlap_topn"].fn(spark, SF_SMOKE).collect()
        exact_pairs = {
            (r["src_a"], r["src_b"])
            for r in reg["q163_source_overlap"].fn(spark, SF_SMOKE).collect()
        }
        assert topn, "smoke corpus must yield at least one overlapping pair"
        for r in topn:
            assert r["topn_a"] <= 200 and r["topn_b"] <= 200
            assert 1 <= r["shared_topn"] <= min(r["topn_a"], r["topn_b"])
            assert (r["src_a"], r["src_b"]) in exact_pairs
            assert r["containment_ppm"] == r["shared_topn"] * 1_000_000 // min(
                r["topn_a"], r["topn_b"]
            )

"""Round-5 operators: JL projection, cluster cards, leakage-safe split.

The query-level value checks live in test_queries_oracle (every
registered query replays against its DuckDB oracle); these tests pin
the operator-level semantics the oracles can't see — the sign-matrix
construction, the split invariant, and the driver/distributed
equivalence of the centroid trainer.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from redshift_avro_spark.operators.similarity import (
    _centers_list,
    ivf_train_centroids,
    jl_project,
)


class TestJLProject:
    def test_projection_matches_hand_computed_signs(self, spark):
        dim = 4
        vec = [1.0, 2.0, 3.0, 4.0]
        df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<double>")
        out = jl_project(df, k=2, dim=dim, plane_offset=100).collect()[0]
        for j in range(2):
            signs = [
                1.0
                if int(hashlib.md5(f"p{100 + j}|{d}".encode()).hexdigest()[:15], 16) & 1
                else -1.0
                for d in range(dim)
            ]
            expected = 0.0
            for d in range(dim):
                expected += vec[d] * signs[d]
            assert out[f"p{j}"] == expected

    def test_distortion_concentrates_near_one(self, spark):
        # JL guarantee: E[|Pa-Pb|^2 / k] = |a-b|^2; with k=8 the mean
        # ratio over many pairs should land well inside [0.5, 1.5]
        import random

        rnd = random.Random(7)
        rows = [
            (i, [rnd.gauss(0.0, 1.0) for _ in range(16)]) for i in range(30)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        proj = jl_project(df, k=8, dim=16, plane_offset=100)
        joined = (
            df.join(proj, "vec_id")
            .select(
                "vec_id",
                "embedding",
                F.array(*[F.col(f"p{j}") for j in range(8)]).alias("p"),
            )
        )
        a = joined.select(
            F.col("vec_id").alias("ia"), F.col("embedding").alias("va"), F.col("p").alias("pa")
        )
        b = joined.select(
            F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"), F.col("p").alias("pb")
        )
        l2 = (
            "aggregate(zip_with({x}, {y}, (u, v) -> (u - v) * (u - v)),"
            " CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
        )
        pairs = (
            a.join(b, F.col("ia") < F.col("ib"))
            .select(
                (F.expr(l2.format(x="pa", y="pb")) / 8.0
                 / F.expr(l2.format(x="va", y="vb"))).alias("ratio")
            )
            .agg(F.avg("ratio").alias("m"))
            .collect()[0]["m"]
        )
        assert 0.5 < pairs < 1.5

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<double>")
        with pytest.raises(ValueError):
            jl_project(df, k=0, dim=1)
        with pytest.raises(ValueError):
            jl_project(df, id_col="nope", dim=1)


class TestLeakageSafeSplit:
    def test_no_component_straddles_the_boundary(self, spark):
        from redshift_avro_spark.queries import load_all

        out = (
            load_all()["q156_leakage_safe_split"]
            .fn(spark, SF_SMOKE)
            .groupBy("split_group")
            .agg(F.countDistinct("split").alias("n_sides"))
            .agg(F.max("n_sides").alias("mx"))
            .collect()[0]["mx"]
        )
        assert out == 1

    def test_every_document_is_covered(self, spark):
        from redshift_avro_spark.queries import load_all

        df = load_all()["q156_leakage_safe_split"].fn(spark, SF_SMOKE)
        n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
        assert df.count() == n_docs
        assert df.where(~F.col("split").isin("train", "test")).count() == 0


class TestDriverTrainEquivalence:
    def test_driver_and_distributed_centroids_are_bit_identical(self, spark):
        from redshift_avro_spark.operators import similarity as sim

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        fast = _centers_list(ivf_train_centroids(emb, n_centroids=4, lloyd_iters=2))
        cap = sim.TRAIN_DRIVER_CAP
        try:
            sim.TRAIN_DRIVER_CAP = 0  # force the distributed path
            slow = _centers_list(ivf_train_centroids(emb, n_centroids=4, lloyd_iters=2))
        finally:
            sim.TRAIN_DRIVER_CAP = cap
        assert sorted(fast) == sorted(slow)


class TestCurationFunnel:
    def test_funnel_is_monotone_and_matches_q49(self, spark):
        from redshift_avro_spark.queries import load_all

        reg = load_all()
        rows = {
            r["stage"]: (r["n_in"], r["n_out"], r["n_dropped"])
            for r in reg["q157_curation_funnel"].fn(spark, SF_SMOKE).collect()
        }
        order = ["language", "quality", "min_words", "exact_dedup", "near_dup"]
        assert list(rows) == order or set(rows) == set(order)
        for stage in order:
            n_in, n_out, n_dropped = rows[stage]
            assert 0 <= n_out <= n_in and n_dropped == n_in - n_out
        # stages chain: each stage's n_in is the previous stage's n_out
        for prev, cur in zip(order, order[1:]):
            assert rows[cur][0] == rows[prev][1]
        # the funnel's final survivor count IS q49's result size
        q49_n = reg["q49_curation_pipeline"].fn(spark, SF_SMOKE).count()
        assert rows["near_dup"][1] == q49_n


class TestEditDistancePairs:
    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumped over the lazy dog"),
                (3, "a completely different sentence about databases"),
                (4, ""),
            ],
            "doc_id long, text string",
        )

    def test_matches_reference_dp(self, spark):
        from redshift_avro_spark.operators.dedup import edit_distance_pairs

        def lev(a, b):
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i] + [0] * len(b)
                for j, cb in enumerate(b, 1):
                    cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                prev = cur
            return prev[-1]

        docs = self._docs(spark)
        cands = spark.createDataFrame(
            [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
        )
        out = {
            (r["id_a"], r["id_b"]): r
            for r in edit_distance_pairs(docs, "doc_id", "text", cands).collect()
        }
        texts = {r["doc_id"]: r["text"] for r in docs.collect()}
        assert set(out) == {(1, 2), (1, 3), (1, 4)}
        for (a, b), row in out.items():
            expected = lev(texts[a], texts[b])
            max_len = max(len(texts[a]), len(texts[b]), 1)
            assert row["lev"] == expected
            assert row["max_len"] == max_len
            assert row["lev_ppm"] == expected * 1_000_000 // max_len
            assert row["is_dup"] == int(row["lev_ppm"] <= 200_000)

    def test_only_candidate_pairs_scored(self, spark):
        from redshift_avro_spark.operators.dedup import edit_distance_pairs

        docs = self._docs(spark)
        cands = spark.createDataFrame([(2, 3)], "id_a long, id_b long")
        rows = edit_distance_pairs(docs, "doc_id", "text", cands).collect()
        assert [(r["id_a"], r["id_b"]) for r in rows] == [(2, 3)]

    def test_near_identical_pair_flags_dup(self, spark):
        from redshift_avro_spark.operators.dedup import edit_distance_pairs

        docs = self._docs(spark)
        cands = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        row = edit_distance_pairs(docs, "doc_id", "text", cands).collect()[0]
        # one word changed (jumps -> jumped): tiny normalized distance
        assert row["is_dup"] == 1 and row["lev"] <= 3


class TestScrubDuplicatedSpans:
    def test_shared_span_removed_from_both_docs(self, spark):
        from redshift_avro_spark.operators.scrub import scrub_duplicated_spans

        shared = "one two three four five six"
        docs = spark.createDataFrame(
            [
                (1, f"alpha {shared} beta"),
                (2, f"gamma delta {shared}"),
                (3, "nothing here repeats at all ever once"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in scrub_duplicated_spans(docs, w=6, min_docs=2).collect()
        }
        # the shared 6-word window is covered in both docs; flanking
        # words survive
        assert out[1]["scrubbed_text"] == "alpha beta"
        assert out[2]["scrubbed_text"] == "gamma delta"
        assert out[1]["n_scrubbed"] == 6 and out[2]["n_scrubbed"] == 6
        assert out[3]["n_scrubbed"] == 0
        assert out[3]["scrubbed_text"] == "nothing here repeats at all ever once"

    def test_scrub_consistent_with_span_report(self, spark):
        from redshift_avro_spark.operators.scrub import (
            duplicated_spans,
            scrub_duplicated_spans,
        )

        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        rep = {
            r["doc_id"]: r for r in duplicated_spans(docs, "doc_id", "text").collect()
        }
        scr = {
            r["doc_id"]: r
            for r in scrub_duplicated_spans(docs, "doc_id", "text").collect()
        }
        for doc_id, s in scr.items():
            r = rep.get(doc_id)
            if r is None:
                # fewer than w words: report drops the doc, scrub keeps it whole
                assert s["n_scrubbed"] == 0
                continue
            # words removed == union coverage of the merged spans
            assert s["n_scrubbed"] == r["dup_span_words"]
            # scrubbed length = total words minus removed
            kept_words = (
                len(s["scrubbed_text"].split()) if s["scrubbed_text"] else 0
            )
            assert kept_words == s["n_words"] - s["n_scrubbed"]


class TestLexicalDiversity:
    def test_hand_computed(self, spark):
        from redshift_avro_spark.operators.text import lexical_diversity

        docs = spark.createDataFrame(
            [(1, "a b a c"), (2, "x x x"), (3, "u v w")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in lexical_diversity(docs).collect()}
        assert (out[1]["n_tokens"], out[1]["n_types"], out[1]["n_hapax"]) == (4, 3, 2)
        assert out[1]["ttr_ppm"] == 3 * 1_000_000 // 4
        assert out[1]["hapax_ppm"] == 2 * 1_000_000 // 3
        assert (out[2]["n_tokens"], out[2]["n_types"], out[2]["n_hapax"]) == (3, 1, 0)
        assert (out[3]["ttr_ppm"], out[3]["hapax_ppm"]) == (1_000_000, 1_000_000)


class TestMixtureConcentration:
    def test_uniform_vs_skewed(self, spark):
        from redshift_avro_spark.queries import load_all
        import os, tempfile, shutil

        reg = load_all()
        # synthetic corpora via temp parquet dirs shaped like testdata
        tmp = tempfile.mkdtemp(prefix="mixconc_")
        try:
            uniform = spark.createDataFrame(
                [(i, "w " * 10, "en", f"s{i % 4}", 20) for i in range(8)],
                "doc_id long, text string, lang string, source string, n_chars long",
            )
            uniform.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
            row_u = reg["q164_mixture_concentration"].fn(spark, tmp).collect()[0]
            skewed = spark.createDataFrame(
                [(0, "w " * 400, "en", "big", 800)]
                + [(i, "w", "en", f"s{i}", 1) for i in range(1, 4)],
                "doc_id long, text string, lang string, source string, n_chars long",
            )
            skewed.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
            row_s = reg["q164_mixture_concentration"].fn(spark, tmp).collect()[0]
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        # uniform 4-way split: top share 25%, HHI 1/4, Gini 0
        assert row_u["n_sources"] == 4
        assert row_u["top_share_ppm"] == 250_000
        assert row_u["gini_ppm"] == 0
        assert abs(row_u["hhi_ppm"] - 250_000) <= 1
        # skewed: one source dominates
        assert row_s["top_share_ppm"] > 900_000
        assert row_s["gini_ppm"] > 700_000
        assert row_s["hhi_ppm"] > 850_000


class TestBM25Eval:
    def test_metrics_hand_checked(self, spark):
        from redshift_avro_spark.operators.retrieval import bm25_eval

        # 6 docs; 'aa'/'bb' are the two eligible high-df terms (df=3
        # each, N=6 so df*2 <= N holds); filler words are unique so
        # they stay ineligible.
        docs = spark.createDataFrame(
            [
                (1, "aa bb one two"),
                (2, "aa bb three four"),
                (3, "aa five six seven"),
                (4, "bb eight nine ten"),
                (5, "u1 u2 u3 u4"),
                (6, "v1 v2 v3 v4"),
            ],
            "doc_id long, text string",
        )
        rows = bm25_eval(docs, n_query_terms=2, k=10).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["query_id"] == 1 and r["n_query_terms_q"] == 2
        # docs 1,2 contain both terms
        assert r["n_relevant"] == 2
        assert r["hits_at_k"] == 2
        assert r["recall_at_k_ppm"] == 1_000_000
        # both-term docs outscore single-term docs, so first hit is rank 1
        assert r["first_rel_rank"] == 1 and r["mrr_ppm"] == 1_000_000
        assert r["p_at_k_ppm"] == 200_000

    def test_two_phase_topk_matches_single_window(self, spark):
        from redshift_avro_spark.operators.retrieval import bm25_eval

        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        # salted two-phase (production) vs degenerate single-bucket
        # (equivalent to one per-query window): identical metrics
        a = bm25_eval(docs, n_query_terms=8, k=10, salt_buckets=64).collect()
        b = bm25_eval(docs, n_query_terms=8, k=10, salt_buckets=1).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]


class TestRerankWithModel:
    def test_fake_model_scores_match_reference(self, spark):
        from redshift_avro_spark.operators.inference import (
            fake_ce_score,
            rerank_with_model,
        )

        docs = spark.createDataFrame(
            [(i, f"document number {i} with some text") for i in range(1, 6)],
            "doc_id long, text string",
        )
        cands = spark.createDataFrame(
            [(r, r) for r in range(1, 6)], "rank long, doc_id long"
        )
        rows = rerank_with_model(cands, docs, model="fake").collect()
        texts = {r["doc_id"]: r["text"] for r in docs.collect()}
        assert len(rows) == 5
        for r in rows:
            assert r["ce_score"] == fake_ce_score(r["doc_id"], texts[r["doc_id"]])
            assert r["rank_delta"] == r["bm25_rank"] - r["ce_rank"]
        # ce_rank is a permutation of 1..5 ordered by score desc
        ranks = sorted((r["ce_rank"] for r in rows))
        assert ranks == [1, 2, 3, 4, 5]
        by_rank = sorted(rows, key=lambda r: r["ce_rank"])
        scores = [r["ce_score"] for r in by_rank]
        assert scores == sorted(scores, reverse=True)

    def test_only_candidates_scored(self, spark):
        from redshift_avro_spark.operators.inference import rerank_with_model

        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(100)], "doc_id long, text string"
        )
        cands = spark.createDataFrame([(1, 7), (2, 42)], "rank long, doc_id long")
        rows = rerank_with_model(cands, docs, model="fake").collect()
        assert sorted(r["doc_id"] for r in rows) == [7, 42]


class TestShardPlan:
    def test_budget_boundaries_and_totals(self, spark):
        from redshift_avro_spark.queries import load_all
        import os, tempfile, shutil

        reg = load_all()
        tmp = tempfile.mkdtemp(prefix="shard_")
        try:
            # source A: docs of 400 tokens each -> shards of ~2.5 docs
            # at budget 1000; source B: one huge doc straddling
            rows = [(i, "w " * 400, "en", "A", 800) for i in range(5)]
            rows += [(100, "w " * 2500, "en", "B", 5000)]
            spark.createDataFrame(
                rows, "doc_id long, text string, lang string, source string, n_chars long"
            ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
            out = reg["q167_shard_plan"].fn(spark, tmp).collect()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        a = [r for r in out if r["source"] == "A"]
        b = [r for r in out if r["source"] == "B"]
        # A: cum starts 0,400,800,1200,1600 -> shards 0,0,0,1,1
        assert [(r["shard"], r["n_docs"]) for r in a] == [(0, 3), (1, 2)]
        assert sum(r["shard_tokens"] for r in a) == 2000
        # B: single 2500-token doc starts at 0 -> one shard, fill 2.5x
        assert [(r["shard"], r["n_docs"], r["fill_ppm"]) for r in b] == [
            (0, 1, 2_500_000)
        ]


class TestLangidConfusion:
    def test_matrix_is_consistent(self, spark):
        from redshift_avro_spark.queries import load_all

        reg = load_all()
        rows = reg["q169_langid_confusion"].fn(spark, SF_SMOKE).collect()
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        n = docs.count()
        assert sum(r["n_docs"] for r in rows) == n
        # per-label shares sum to <= 1e6 (floor division)
        by_lang = {}
        for r in rows:
            by_lang.setdefault(r["lang"], []).append(r)
        for lang, cells in by_lang.items():
            tot = cells[0]["lang_total"]
            assert sum(c["n_docs"] for c in cells) == tot
            assert sum(c["share_ppm"] for c in cells) <= 1_000_000
        # diagonal flags agree with equality
        for r in rows:
            assert r["is_correct"] == int(r["lang"] == r["lang_pred"])


class TestDistributedRank:
    def test_matches_single_window(self, spark):
        from redshift_avro_spark.operators.ranking import distributed_rank
        import random

        rnd = random.Random(11)
        rows = [(i, rnd.randrange(0, 1_000_001)) for i in range(500)]
        # duplicates on the value force the id tiebreak
        rows += [(1000 + i, rows[i][1]) for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, v long")
        got = {
            r["doc_id"]: r["rank"]
            for r in distributed_rank(df, "v", "doc_id", split_threshold=64).collect()
        }
        expected = {
            doc_id: i + 1
            for i, (doc_id, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
        }
        assert got == expected

    def test_split_every_group_degenerates_correctly(self, spark):
        from redshift_avro_spark.operators.ranking import distributed_rank

        df = spark.createDataFrame(
            [(1, 5), (2, 3), (3, 5), (4, 0)], "doc_id long, v long"
        )
        got = {
            r["doc_id"]: r["rank"]
            for r in distributed_rank(df, "v", "doc_id", split_threshold=1).collect()
        }
        assert got == {4: 1, 2: 2, 1: 3, 3: 4}


class TestMatryoshkaAudit:
    def test_losses_consistent(self, spark):
        from redshift_avro_spark.queries import load_all

        rows = load_all()["q171_matryoshka_audit"].fn(spark, SF_SMOKE).collect()
        assert rows, "expected top-5 pairs for 10 queries"
        for r in rows:
            assert r["loss16_ppm"] == r["cos64_ppm"] - r["cos16_ppm"]
            assert r["loss32_ppm"] == r["cos64_ppm"] - r["cos32_ppm"]
            for c in ("cos16_ppm", "cos32_ppm", "cos64_ppm"):
                assert -1_000_000 <= r[c] <= 1_000_000
        # top pairs are similar at full dim: cos64 should be high
        assert min(r["cos64_ppm"] for r in rows) > 0


class TestRendezvousPlan:
    def test_hrw_minimal_movement(self, spark):
        from redshift_avro_spark.queries import load_all

        rows = load_all()["q173_rendezvous_plan"].fn(spark, SF_SMOKE).collect()
        assert [r["worker"] for r in rows] == list(range(8))
        total = sum(r["n_docs"] for r in rows)
        moved = sum(r["n_moved"] for r in rows)
        # HRW: nothing moves between old workers
        assert all(r["n_moved_sideways"] == 0 for r in rows)
        # expected movement ~= 1/9 of the corpus; allow wide slack
        assert 0.03 * total < moved < 0.25 * total
        # shares are roughly balanced (md5-uniform): each within 3x of fair
        for r in rows:
            assert total // 24 <= r["n_docs"] <= total // 3

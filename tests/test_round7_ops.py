"""Round-7 fixes: null-text handling in the linear cross-encoder
(ADVICE r6) and the round's operator hardening."""

from __future__ import annotations

import pytest


class TestLinearCeNullText:
    """ADVICE r6 #3: NULL text must drop the doc (the oracle's
    unnest(NULL) treatment), not crash the executor iterating None."""

    def test_null_text_doc_dropped_like_oracle(self, spark):
        from redshift_avro_spark.operators.inference import rerank_with_model

        docs = spark.createDataFrame(
            [(1, "alpha beta"), (2, None), (3, "beta gamma beta")],
            "doc_id long, text string",
        )
        cands = spark.createDataFrame(
            [(1, 1), (2, 2), (3, 3)], "doc_id long, rank long"
        )
        qt = spark.createDataFrame([("beta", 2), ("alpha", 1)], "term string, df long")
        out = rerank_with_model(cands, docs, query_terms=qt).collect()
        assert sorted(r.doc_id for r in out) == [1, 3]
        assert sorted(r.ce_rank for r in out) == [1, 2]

    def test_fake_model_still_handles_null(self, spark):
        from redshift_avro_spark.operators.inference import rerank_with_model

        docs = spark.createDataFrame(
            [(1, "x"), (2, None)], "doc_id long, text string"
        )
        cands = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank long")
        out = rerank_with_model(cands, docs, model="fake").collect()
        assert sorted(r.doc_id for r in out) == [1, 2]

class TestSemanticDedupHotCellGuard:
    """VERDICT r6 #1: the within-cell pair scan is HARD-bounded — an
    oversized k-means cell is LSH-split, and a refined cell still over
    the cap is dropped from pair generation (the band-cap policy)."""

    DIM = 8

    def _one_mode_corpus(self, spark, n):
        """A corpus collapsing into one dense k-means cell: unit base
        direction orthogonal to the two split planes (so the split
        bits are decided by the perturbations) plus deterministic
        md5-derived perturbations keeping every pairwise cosine high."""
        import hashlib

        import numpy as np

        from redshift_avro_spark.operators.similarity import (
            SPLIT_PLANE_OFFSET,
            _plane_signs,
        )

        s0 = np.array(_plane_signs(SPLIT_PLANE_OFFSET, self.DIM))
        s1 = np.array(_plane_signs(SPLIT_PLANE_OFFSET + 1, self.DIM))
        v0 = np.ones(self.DIM)
        for s in (s0, s1):
            v0 = v0 - (v0 @ s) / (s @ s) * s
        assert np.linalg.norm(v0) > 1e-6, "degenerate split planes"
        v0 = v0 / np.linalg.norm(v0)
        rows = []
        for i in range(n):
            h = hashlib.md5(b"pert%d" % i).digest()
            d = np.array([(b - 127.5) / 127.5 for b in h[: self.DIM]])
            v = v0 + 0.4 * d / np.linalg.norm(d)
            rows.append((i, [float(x) for x in v]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_split_bounds_refined_cells(self, spark):
        from redshift_avro_spark.operators.similarity import (
            semantic_dedup,
            semantic_dedup_cell_stats,
        )

        df = self._one_mode_corpus(spark, 60)
        kw = dict(n_centroids=2, lloyd_iters=1, dim=self.DIM,
                  cell_cap=25, split_planes=2)
        stats = semantic_dedup_cell_stats(df, **kw).collect()
        split = [r for r in stats if r.was_split]
        assert split, "one-mode corpus must trigger the split"
        live = [r for r in stats if r.participates]
        assert live and all(r.n_refined <= 25 for r in live), (
            "a participating refined cell exceeds the cap"
        )
        out = semantic_dedup(df, threshold=0.45, **kw).collect()
        assert len(out) == 60
        assert all(r.n_dups >= 1 for r in out)
        # capped components refine the uncapped ones: every capped
        # component's members share one uncapped component
        base = {
            r.vec_id: r.component_id
            for r in semantic_dedup(
                df, threshold=0.45, n_centroids=2, lloyd_iters=1,
                dim=self.DIM, cell_cap=10**9, split_planes=2,
            ).collect()
        }
        capped_groups = {}
        for r in out:
            capped_groups.setdefault(r.component_id, []).append(r.vec_id)
        for members in capped_groups.values():
            assert len({base[m] for m in members}) == 1

    def test_unsplittable_dense_mode_drops_not_quadratic(self, spark):
        """Exact duplicates share every hyperplane sign — no projection
        can split them. The refined cell stays over the cap, is
        dropped (surfaced via participates=False), and its members
        come out as singletons instead of an all-pairs join."""
        from redshift_avro_spark.operators.similarity import (
            semantic_dedup,
            semantic_dedup_cell_stats,
        )

        dup = [(i, [1.0, 2.0, -1.0, 0.5, 1.5, -0.5, 2.5, 1.0]) for i in range(40)]
        distinct = [
            (100 + j, [float((j + 1) * (1 if d % 2 else -1)) for d in range(8)])
            for j in range(5)
        ]
        df = spark.createDataFrame(
            dup + distinct, "vec_id long, embedding array<double>"
        )
        kw = dict(n_centroids=2, lloyd_iters=1, dim=8, cell_cap=8, split_planes=2)
        stats = semantic_dedup_cell_stats(df, **kw).collect()
        dropped = [r for r in stats if not r.participates]
        assert dropped and max(r.n_refined for r in dropped) == 40, (
            "the unsplittable dup cell must be dropped, not joined"
        )
        out = {r.vec_id: r for r in semantic_dedup(df, threshold=0.45, **kw).collect()}
        for i in range(40):
            assert out[i].n_dups == 1 and out[i].is_keeper, (
                "dropped-cell members must surface as singletons"
            )

    def test_default_cap_is_inert_at_test_scale(self, spark):
        """With the default cap (no trigger), the guarded operator is
        value-identical to the pre-guard behavior — pairs join on
        cid·2^p, which is one-to-one with cid."""
        from redshift_avro_spark.operators.similarity import (
            DEFAULT_CELL_CAP,
            semantic_dedup_cell_stats,
        )

        df = self._one_mode_corpus(spark, 30)
        stats = semantic_dedup_cell_stats(
            df, n_centroids=2, lloyd_iters=1, dim=self.DIM
        ).collect()
        assert DEFAULT_CELL_CAP == 4096
        assert all(not r.was_split and r.participates for r in stats)

class TestQuantizeGridMatchesDecimal:
    """VERDICT r6 #2: the vectorized 1e10-grid quantizer must be
    element-identical to Decimal(repr(x)).quantize(1e-10, HALF_UP) —
    including on shortest-repr half-boundary values, negative exact
    ties (where floor(y+0.5) alone would round toward zero), and
    across magnitudes."""

    def _expected(self, values):
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal(1).scaleb(-10)
        return [
            int(Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP).scaleb(10))
            for v in values
        ]

    def _check(self, values):
        import numpy as np

        from redshift_avro_spark.operators.similarity import _quantize_repr_grid

        A = np.asarray(values, dtype=np.float64).reshape(-1, 1)
        got = _quantize_repr_grid(A)
        assert got is not None
        assert got.ravel().tolist() == self._expected(values)

    def test_half_boundary_values(self):
        base = [5e-11, 1.5e-10, 2.5e-10, 3.5e-10, 0.00000000015,
                7.5e-10, 1.05e-9, 123.45678900005, 0.99999999995]
        self._check(base + [-v for v in base])

    def test_exact_grid_and_near_grid(self):
        vals = []
        for k in (0, 1, 2, 7, 123, 10**6, 3 * 10**9):
            for eps in (0.0, 1e-11, 4.9999e-11, 5e-11, 5.0001e-11, 9.9999e-11):
                for s in (1.0, -1.0):
                    vals.append(s * (k * 1e-10 + eps))
        self._check(vals)

    def test_random_magnitude_sweep(self):
        import numpy as np

        rng = np.random.RandomState(7)
        vals = []
        # up to ~4e5: the fast path covers |x·1e10| < 2^52 and larger
        # magnitudes take the guard (test_overflow_guard_returns_none)
        for mag in (1e-12, 1e-8, 1e-3, 1.0, 1e3, 1e5, 4e5):
            vals.extend((rng.rand(200) - 0.5) * 2 * mag)
        # values snapped near grid half-boundaries at each magnitude
        snapped = np.round(np.asarray(vals) * 1e10) / 1e10 + 5e-11
        self._check(list(vals) + list(snapped))

    def test_overflow_guard_returns_none(self):
        import numpy as np

        from redshift_avro_spark.operators.similarity import _quantize_repr_grid

        assert _quantize_repr_grid(np.asarray([[1e50]])) is None
        assert _quantize_repr_grid(np.asarray([[float("nan")]])) is None

    def test_driver_lloyd_fast_equals_decimal_loop(self):
        """End to end: a 500×16 driver Lloyd step through the fast path
        equals the pure-Decimal fallback bit for bit."""
        import numpy as np

        from redshift_avro_spark.operators import similarity as S

        rng = np.random.RandomState(11)
        rows = [
            (i, [float(x) for x in rng.randn(16)]) for i in range(500)
        ]
        centers = [(0, rows[0][1]), (1, rows[1][1]), (2, rows[2][1])]
        fast = S._driver_lloyd_step(rows, centers)
        orig = S._quantize_repr_grid
        try:
            S._quantize_repr_grid = lambda A: None  # force the Decimal loop
            slow = S._driver_lloyd_step(rows, centers)
        finally:
            S._quantize_repr_grid = orig
        assert fast == slow

class TestBigramLmScores:
    """q180's operator: MLE bigram conditionals in exact integer ppm,
    hand-computed on a tiny corpus."""

    def test_hand_computed_scores(self, spark):
        from redshift_avro_spark.operators.text import bigram_lm_scores

        docs = spark.createDataFrame(
            [
                (1, "a b c"),      # bigrams: (a,b), (b,c)
                (2, "a b"),        # bigram: (a,b)
                (3, "a c"),        # bigram: (a,c)
                (4, "solo"),       # no bigrams
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in bigram_lm_scores(docs).collect()}
        # prefix counts: a→3 (a b, a b, a c), b→1 (b c)
        # cond_ppm: (a,b)=2*1e6//3=666666, (b,c)=1*1e6//1=1000000,
        #           (a,c)=1*1e6//3=333333
        assert out[1].n_bigrams == 2
        assert out[1].lm_score_ppm == (666666 + 1000000) // 2
        assert out[2].n_bigrams == 1 and out[2].lm_score_ppm == 666666
        assert out[3].n_bigrams == 1 and out[3].lm_score_ppm == 333333
        assert out[4].n_bigrams == 0 and out[4].lm_score_ppm is None

    def test_case_and_whitespace_normalized(self, spark):
        from redshift_avro_spark.operators.text import bigram_lm_scores

        docs = spark.createDataFrame(
            [(1, "Foo  Bar"), (2, "foo bar")], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in bigram_lm_scores(docs).collect()}
        # both docs carry the same normalized bigram: c2=2, c1=2 → 1e6
        assert out[1].lm_score_ppm == out[2].lm_score_ppm == 1000000

class TestQuantizeGridHypothesis:
    """Property-based differential check: for ANY finite double within
    the fast path's range, the vectorized quantizer equals the Decimal
    mirror element-for-element."""

    def test_fuzz_matches_decimal(self):
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from redshift_avro_spark.operators.similarity import _quantize_repr_grid

        q = Decimal(1).scaleb(-10)

        @settings(max_examples=500, deadline=None)
        @given(
            st.floats(
                min_value=-4.4e5,
                max_value=4.4e5,
                allow_nan=False,
                allow_infinity=False,
            )
        )
        def check(x):
            got = _quantize_repr_grid(np.asarray([[x]]))
            assert got is not None
            expected = int(
                Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP).scaleb(10)
            )
            assert int(got[0, 0]) == expected, repr(x)

        check()

class TestRepetitionAudit:
    """q182's operator: Gopher repetition rules, hand-computed."""

    def test_hand_computed(self, spark):
        from redshift_avro_spark.operators.text import repetition_audit

        docs = spark.createDataFrame(
            [
                (1, "a a a b"),        # top word a×3/4; bigrams: aa,aa,ab → top 2/3; run 3
                (2, "x y x y"),        # top word 2/4; bigrams xy,yx,xy → top 2/3; run 1
                (3, "solo"),           # 1 word, 0 bigrams, run 1
                (4, "B b"),            # normalization: run 2 after lower()
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in repetition_audit(docs).collect()}
        assert out[1].n_words == 4
        assert out[1].top_word_share_ppm == 3 * 1000000 // 4
        assert out[1].n_bigrams == 3
        assert out[1].top2gram_share_ppm == 2 * 1000000 // 3
        assert out[1].max_word_run == 3
        assert out[2].top_word_share_ppm == 500000
        assert out[2].top2gram_share_ppm == 2 * 1000000 // 3
        assert out[2].max_word_run == 1
        assert out[3].n_bigrams == 0 and out[3].top2gram_share_ppm is None
        assert out[3].max_word_run == 1
        assert out[4].max_word_run == 2

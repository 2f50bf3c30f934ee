"""Round-10 surface (VERDICT r9 tasks):

- #1: every DuckDB oracle fits the replica's default 4 GiB — the
  former HEAVY_ORACLE_MEM entries (q115/q93/q85) were DuckDB-1.0
  CTE-inlining plan blowups, fixed by MATERIALIZED chain links; a
  regression guard here runs the three at a *1 GiB* connection so a
  reintroduced blowup fails loudly before any driver run.
- #4: ``source_overlap`` takes ``top_n`` as a parameter — q163 is the
  ``top_n=None`` exact audit, q190 is ``top_n=200``; the equivalence
  is pinned on the fixtures.
"""

from __future__ import annotations

import duckdb

from conftest import SF_SMOKE

from redshift_avro_spark.queries import ALL_TABLES, load_all

REGISTRY = load_all()


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(repr(r[c]) for c in cols) for r in df.collect())


class TestSourceOverlapParam:
    def test_top_n_none_is_q163(self, spark):
        from redshift_avro_spark.operators.text import source_overlap
        from redshift_avro_spark.queries.relational import load_table

        docs = load_table(spark, SF_SMOKE, "documents")
        op = source_overlap(docs, "doc_id", "text", "source", window=4, top_n=None)
        q = REGISTRY["q163_source_overlap"].fn(spark, SF_SMOKE)
        assert sorted(op.columns) == sorted(q.columns)
        assert _rows(op) == _rows(q)

    def test_top_n_200_is_q190(self, spark):
        from redshift_avro_spark.operators.text import source_overlap
        from redshift_avro_spark.queries.relational import load_table

        docs = load_table(spark, SF_SMOKE, "documents")
        op = source_overlap(docs, "doc_id", "text", "source", window=4, top_n=200)
        q = REGISTRY["q190_source_overlap_topn"].fn(spark, SF_SMOKE)
        assert sorted(op.columns) == sorted(q.columns)
        assert _rows(op) == _rows(q)

    def test_cutoff_bounds_retained_sets(self, spark):
        """top_n=1 retains exactly one gram per source, so every pair's
        shared count is 0 or 1 and containment is 0 or 1e6."""
        from redshift_avro_spark.operators.text import source_overlap
        from redshift_avro_spark.queries.relational import load_table

        docs = load_table(spark, SF_SMOKE, "documents")
        out = source_overlap(docs, "doc_id", "text", "source", top_n=1).collect()
        for r in out:
            assert r["topn_a"] == 1 and r["topn_b"] == 1
            assert r["shared_topn"] in (0, 1)
            assert r["containment_ppm"] in (0, 1_000_000)


class TestTopWordShareExpr:
    """VERDICT r9 #5: q189 computes the rep verdict inline instead of
    joining repetition_audit's staged frame. The inline projection must
    be value-identical to the audit's top_word_share_ppm column."""

    def test_matches_repetition_audit_on_edges(self, spark):
        from redshift_avro_spark.operators.text import (
            repetition_audit,
            top_word_share_ppm_expr,
        )

        rows = [
            (1, None),                      # NULL text -> NULL share
            (2, ""),                        # one '' token -> 1e6
            (3, "word"),                    # single word -> 1e6
            (4, "a b a b a"),               # top 'a' 3/5
            (5, "x x x y y z"),             # run at array front
            (6, "z y y x x x"),             # run at array back
            (7, "tie tie one two"),         # 2/4
            (8, "  leading   spaces  a a"), # trim + multi-space split
        ]
        df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        audit = {
            r["doc_id"]: r["top_word_share_ppm"]
            for r in repetition_audit(df, "doc_id", "text").collect()
        }
        inline = {
            r["doc_id"]: r["s"]
            for r in df.select(
                "doc_id", top_word_share_ppm_expr("text").alias("s")
            ).collect()
        }
        assert inline == audit

    def test_matches_on_fixture_corpus(self, spark):
        from redshift_avro_spark.operators.text import (
            repetition_audit,
            top_word_share_ppm_expr,
        )
        from redshift_avro_spark.queries.relational import load_table

        docs = load_table(spark, SF_SMOKE, "documents")
        audit = {
            r["doc_id"]: r["top_word_share_ppm"]
            for r in repetition_audit(docs, "doc_id", "text").collect()
        }
        inline = {
            r["doc_id"]: r["s"]
            for r in docs.select(
                "doc_id", top_word_share_ppm_expr("text").alias("s")
            ).collect()
        }
        assert inline == audit


class TestC4NullTextCrossEngine:
    """ADVICE r9: the NULL-text contract (NULL → empty document) was
    pinned only by a Spark-side unit test; the shared DuckDB fragments
    propagated NULL. Both engines must now agree on a frame that
    CONTAINS a NULL-text row."""

    def test_duckdb_fragment_matches_spark_operator(self, spark):
        from redshift_avro_spark.operators.text import c4_line_filter
        from redshift_avro_spark.queries.text import (
            _C4_CLEAN_WORDS_DUCK,
            c4_profile_ctes,
        )

        rows = [
            (1, None),
            (2, "Keep this full sentence here."),
            (3, ""),
            (4, "Too short\nAnd this one has no terminal punctuation"),
        ]
        sdf = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        got_spark = {
            r["doc_id"]: (
                r["n_lines"], r["n_kept_lines"], r["cleaned_n_words"],
                r["cleaned_digest"],
            )
            for r in c4_line_filter(sdf).collect()
        }

        import pandas as pd

        con = duckdb.connect()
        src_pdf = pd.DataFrame(rows, columns=["doc_id", "t"])  # noqa: F841
        con.sql("CREATE TABLE src AS SELECT * FROM src_pdf")
        duck = con.sql(
            f"""WITH {c4_profile_ctes('src')}
            SELECT doc_id, len(lns) AS n_lines, len(k) AS n_kept,
                   CAST({_C4_CLEAN_WORDS_DUCK} AS BIGINT) AS cleaned_n_words,
                   md5(coalesce(array_to_string(k, chr(10)), '')) AS digest
            FROM kept ORDER BY doc_id"""
        ).fetchall()
        con.close()
        got_duck = {r[0]: (r[1], r[2], r[3], r[4]) for r in duck}
        assert got_spark == got_duck
        # the NULL row is the empty document in both engines
        assert got_duck[1][:3] == (0, 0, 0)


class TestExternalDecontamPlantedLeak:
    """VERDICT r9 #6: the probes_from_corpus id-space gate, exercised
    end-to-end. q191 plants ten external probes whose ids collide with
    corpus vec_ids 0..9 and whose vectors are verbatim copies of those
    rows: the correctly-declared arm must catch every planted leak,
    the mis-declared arm must miss exactly the colliding self-pairs."""

    def test_planted_leaks_caught_and_gated_arm_misses(self, spark):
        rows = {
            r["vec_id"]: r
            for r in REGISTRY["q191_external_decontam"].fn(spark, SF_SMOKE).collect()
        }
        for vid in range(10):
            r = rows[vid]
            assert r["is_contaminated"], f"planted leak {vid} not caught"
            # the verbatim copy is the top match at cosine ~1
            assert r["top_probe_id"] == vid
            assert r["top_probe_cos"] > 0.999
            # the mis-declared arm skipped the colliding self-pair:
            # its hit count is one lower than the correct arm's
            assert r["gated_hits"] == r["n_probe_hits"] - 1
        # the false-negative set is exactly the planted rows whose ONLY
        # hit was the colliding probe
        missed = {v for v, r in rows.items() if r["missed_if_gated"]}
        expected = {
            v for v in range(10) if rows[v]["n_probe_hits"] == 1
        }
        assert missed == expected and missed, (
            f"missed_if_gated {missed} != planted-only {expected}"
        )


class TestSoakMemoryClamp:
    def test_cgroup_clamp_kills_overallocation(self):
        """VERDICT r9 #7: the soak's --max-rss-gib clamp must be a REAL
        limit where the environment allows it — a child that
        over-allocates under a 256 MiB cgroup clamp is OOM-killed by
        the kernel (SIGKILL), not merely observed."""
        import subprocess
        import sys as _sys

        script = (
            "import sys; sys.path.insert(0, '/root/repo/tools');"
            "sys.path.insert(0, '/root/repo');"
            "from soak import _enter_cgroup_clamp;"
            "mode = _enter_cgroup_clamp(0.25);"
            "print(mode, flush=True);"
            "blob = bytearray(512 * 1024 * 1024);"
            "print('survived')"
        )
        r = subprocess.run(
            [_sys.executable, "-c", script], capture_output=True, text=True,
            timeout=120,
        )
        if "watchdog" in r.stdout:
            import pytest as _pytest

            _pytest.skip("cgroup v1 memory controller not writable here")
        assert r.returncode == -9, (r.returncode, r.stdout, r.stderr[-200:])
        assert "survived" not in r.stdout


class TestOracleMemoryBudget:
    """The driver's oracle connection memory is outside our control, so
    every oracle must fit far under any plausible limit. The three
    round-9 offenders ran out of 24 GiB when DuckDB 1.0 inlined their
    unrolled CTE chains (2^k plan copies); materialized they need only
    their data size. 1 GiB here = loud early warning at sf0.001."""

    def _duck(self, mem: str) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect(config={"memory_limit": mem, "threads": 4})
        for t in ALL_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
        return con

    def test_former_heavy_oracles_fit_1gib(self):
        for name in (
            "q115_pca_projection",
            "q85_ann_suite",
            "q93_embedding_curation",
        ):
            con = self._duck("1GB")
            try:
                assert len(con.sql(REGISTRY[name].oracle).fetchall()) > 0, name
            finally:
                con.close()


class TestBoilerplateLines:
    """q195 (round 10): cross-document frequent-line boilerplate
    removal — the RefinedWeb/Dolma paragraph-frequency rule."""

    def _fixture(self, spark):
        footer = "all rights reserved by example corp."
        rows = [
            (1, f"unique one.\n{footer}\nbody a"),
            (2, f"unique two.\n\n{footer}"),
            (3, f"{footer}\nunique three."),
            (4, "pair line here.\nunique four."),
            (5, "pair line here.\nunique five."),
            (6, None),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string"), footer

    def test_frequency_rule_and_rebuild(self, spark):
        from redshift_avro_spark.operators.text import boilerplate_lines
        import hashlib

        df, footer = self._fixture(spark)
        out = {r["doc_id"]: r for r in boilerplate_lines(df, min_docs=3).collect()}
        # the footer appears in 3 distinct docs -> boilerplate there
        assert out[1]["n_boiler_lines"] == 1 and out[1]["n_lines"] == 3
        assert out[2]["n_boiler_lines"] == 1
        assert out[3]["n_boiler_lines"] == 1
        # "pair line here." appears in only 2 docs -> kept
        assert out[4]["n_boiler_lines"] == 0 and out[5]["n_boiler_lines"] == 0
        # rebuild drops ONLY the boiler line, preserves order + empties
        exp1 = hashlib.md5("unique one.\nbody a".encode()).hexdigest()
        assert out[1]["cleaned_digest"] == exp1
        exp2 = hashlib.md5("unique two.\n".encode()).hexdigest()  # empty line kept
        assert out[2]["cleaned_digest"] == exp2
        assert out[1]["boiler_ppm"] == 1 * 1_000_000 // 3

    def test_null_text_is_empty_document(self, spark):
        from redshift_avro_spark.operators.text import boilerplate_lines
        import hashlib

        df, _ = self._fixture(spark)
        out = {r["doc_id"]: r for r in boilerplate_lines(df, min_docs=3).collect()}
        assert out[6]["n_lines"] == 0
        assert out[6]["n_boiler_lines"] == 0
        assert out[6]["boiler_ppm"] == 0
        assert out[6]["cleaned_digest"] == hashlib.md5(b"").hexdigest()

    def test_whitespace_only_lines_never_boiler(self, spark):
        from redshift_avro_spark.operators.text import boilerplate_lines

        rows = [(i, "   \nreal content line %d." % i) for i in range(1, 6)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = boilerplate_lines(df, min_docs=2).collect()
        # the whitespace line repeats in 5 docs but carries no content
        assert all(r["n_boiler_lines"] == 0 for r in out)

    def test_gated_demo_catches_injected_footer(self, spark):
        """The q186 synth injects a cookie-policy footer on every
        doc_id % 31 == 0 — q195 must flag it by pure frequency."""
        out = REGISTRY["q195_boilerplate_lines"].fn(spark, SF_SMOKE).collect()
        flagged = {r["doc_id"] for r in out if r["n_boiler_lines"] > 0}
        injected = {r["doc_id"] for r in out if r["doc_id"] % 31 == 0}
        assert injected <= flagged  # frequency catches the phrase-list line
        assert len(injected) >= 2  # fixture actually exercises the rule


class TestTokenizerEfficiency:
    """q194 (round 10): per-source tokenizer efficiency, sharing ONE
    BPE training+encode with q114 via the _bpe_encoded memo."""

    def test_rollup_consistent_with_q114(self, spark):
        from pyspark.sql import functions as F
        from redshift_avro_spark.queries.relational import load_table

        per_doc = REGISTRY["q114_bpe_encode"].fn(spark, SF_SMOKE)
        docs = load_table(spark, SF_SMOKE, "documents").select(
            "doc_id", "source", "n_chars"
        )
        exp = {
            r["source"]: r
            for r in per_doc.join(docs, "doc_id")
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("tokens_before").alias("n_words"),
                F.sum("tokens_after").alias("n_tokens"),
            )
            .collect()
        }
        got = {
            r["source"]: r
            for r in REGISTRY["q194_tokenizer_efficiency"].fn(spark, SF_SMOKE).collect()
        }
        assert set(got) == set(exp)
        for src, r in got.items():
            assert r["n_docs"] == exp[src]["n_docs"]
            assert r["n_words"] == exp[src]["n_words"]
            assert r["n_tokens"] == exp[src]["n_tokens"]
            assert r["saved_ppm"] == (r["n_words"] - r["n_tokens"]) * 1_000_000 // r["n_words"]


class TestFilterThresholdSweep:
    """q196 (round 10): kept-docs/kept-tokens vs quality-threshold
    curve as a BOUNDED score histogram — the calibration table a
    release engineer turns the filter knob against."""

    def test_cumulative_matches_per_doc_scores(self, spark):
        """Every (threshold, cum_docs, cum_tokens) row must equal the
        brute-force count of docs whose classifier score >= threshold
        — the histogram + descending window is an exact factoring, not
        an approximation."""
        from pyspark.sql import functions as F
        from redshift_avro_spark.operators.text import quality_classifier_score
        from redshift_avro_spark.queries.relational import load_table

        docs = load_table(spark, SF_SMOKE, "documents")
        per_doc = docs.select(
            quality_classifier_score("text").getField("logit_ppm").alias("s"),
            F.expr(
                "CAST(size(split(trim(lower(text)), '\\\\s+')) AS BIGINT)"
            ).alias("t"),
        ).collect()
        out = REGISTRY["q196_filter_threshold_sweep"].fn(spark, SF_SMOKE).collect()
        assert len(out) >= 3  # the fixture spreads over several bins
        tot_docs = len(per_doc)
        tot_tokens = sum(r["t"] for r in per_doc)
        for row in out:
            thr = row["threshold_ppm"]
            kept = [r for r in per_doc if r["s"] >= thr]
            assert row["cum_docs"] == len(kept), thr
            assert row["cum_tokens"] == sum(r["t"] for r in kept), thr
            assert row["kept_doc_ppm"] == len(kept) * 1_000_000 // tot_docs
        # the lowest threshold keeps everything
        low = min(out, key=lambda r: r["threshold_ppm"])
        assert low["cum_docs"] == tot_docs and low["cum_tokens"] == tot_tokens

    def test_bin_edges_floor_negative_scores(self, spark):
        """Scores are negative for roughly half the corpus; the
        shifted non-negative bin key must floor identically in Spark
        (DIV) and the closed form — a doc's score always lands in
        [threshold, threshold + BIN)."""
        from pyspark.sql import functions as F
        from redshift_avro_spark.operators.text import quality_classifier_score
        from redshift_avro_spark.queries.relational import load_table
        from redshift_avro_spark.queries.text import _SWEEP_BIN, _SWEEP_SHIFT

        docs = load_table(spark, SF_SMOKE, "documents")
        scores = [
            r["s"]
            for r in docs.select(
                quality_classifier_score("text").getField("logit_ppm").alias("s")
            ).collect()
        ]
        assert any(s < 0 for s in scores)  # the regime under test
        out = REGISTRY["q196_filter_threshold_sweep"].fn(spark, SF_SMOKE).collect()
        edges = sorted(r["threshold_ppm"] for r in out)
        for s in scores:
            thr = ((s + _SWEEP_SHIFT) // _SWEEP_BIN) * _SWEEP_BIN - _SWEEP_SHIFT
            assert thr in edges
            assert thr <= s < thr + _SWEEP_BIN

    def test_per_bin_mass_sums_to_totals(self, spark):
        out = REGISTRY["q196_filter_threshold_sweep"].fn(spark, SF_SMOKE).collect()
        tot_docs = sum(r["n_docs"] for r in out)
        tot_tokens = sum(r["n_tokens"] for r in out)
        top = max(out, key=lambda r: r["threshold_ppm"])
        low = min(out, key=lambda r: r["threshold_ppm"])
        assert low["cum_docs"] == tot_docs
        assert low["cum_tokens"] == tot_tokens
        assert top["cum_docs"] == top["n_docs"]  # top bin keeps only itself
        assert low["kept_doc_ppm"] == 1_000_000
        assert low["kept_token_ppm"] == 1_000_000


class TestPerplexityBuckets:
    """q197 (round 10): CCNet-style per-language head/middle/tail
    perplexity terciles from a bounded score histogram."""

    def test_thresholds_are_exact_terciles(self, spark):
        """t1/t2 must equal the ceil(n/3)-th / ceil(2n/3)-th smallest
        score per language — the histogram cumulative is an exact
        order-statistic factoring."""
        scored = REGISTRY["q188_trigram_lm_score"].fn(spark, SF_SMOKE)
        from redshift_avro_spark.queries.relational import load_table

        docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang")
        per_doc = {
            (r["doc_id"]): r
            for r in scored.join(docs, "doc_id").collect()
        }
        by_lang = {}
        for r in per_doc.values():
            if r["kn_score_ppm"] is not None:
                by_lang.setdefault(r["lang"], []).append(r["kn_score_ppm"])
        out = REGISTRY["q197_perplexity_buckets"].fn(spark, SF_SMOKE).collect()
        th = {r["lang"]: (r["t1_ppm"], r["t2_ppm"]) for r in out}
        assert len(by_lang) >= 2  # fixture spans languages
        for lang, scores in by_lang.items():
            scores.sort()
            n = len(scores)
            t1, t2 = th[lang]
            assert t1 == scores[(n + 2) // 3 - 1], lang
            assert t2 == scores[(2 * n + 2) // 3 - 1], lang

    def test_buckets_partition_each_language(self, spark):
        out = REGISTRY["q197_perplexity_buckets"].fn(spark, SF_SMOKE).collect()
        from redshift_avro_spark.queries.relational import load_table

        docs = load_table(spark, SF_SMOKE, "documents")
        lang_counts = {
            r["lang"]: r["n"]
            for r in docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()
        }
        seen = {}
        for r in out:
            seen[r["lang"]] = seen.get(r["lang"], 0) + r["n_docs"]
            assert r["bucket"] in ("head", "middle", "tail", "none")
            assert r["share_ppm"] == r["n_docs"] * 1_000_000 // lang_counts[r["lang"]]
        assert seen == lang_counts  # every doc lands in exactly one bucket

    def test_none_bucket_is_no_trigram_docs(self, spark):
        scored = REGISTRY["q188_trigram_lm_score"].fn(spark, SF_SMOKE)
        from redshift_avro_spark.queries.relational import load_table

        docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang")
        joined = scored.join(docs, "doc_id").collect()
        none_by_lang = {}
        for r in joined:
            if r["kn_score_ppm"] is None:
                none_by_lang[r["lang"]] = none_by_lang.get(r["lang"], 0) + 1
        out = REGISTRY["q197_perplexity_buckets"].fn(spark, SF_SMOKE).collect()
        got = {r["lang"]: r["n_docs"] for r in out if r["bucket"] == "none"}
        assert got == none_by_lang

    def test_tercile_masses_balanced(self, spark):
        """Ties aside, each of head/middle/tail holds ~1/3 of the
        scored docs — the bucketing is by count, not by score range."""
        out = REGISTRY["q197_perplexity_buckets"].fn(spark, SF_SMOKE).collect()
        by_lang = {}
        for r in out:
            if r["bucket"] != "none":
                by_lang.setdefault(r["lang"], {})[r["bucket"]] = r["n_docs"]
        for lang, b in by_lang.items():
            tot = sum(b.values())
            if tot < 9:
                continue
            for bk in ("head", "middle", "tail"):
                # each tercile within ±40% of n/3 (ties can skew small fixtures)
                assert abs(b.get(bk, 0) - tot / 3) <= max(2, 0.4 * tot), (lang, b)


class TestGramNovelty:
    """q198 (round 10): per-source marginal gram novelty in
    deterministic source order."""

    def test_brute_force_equivalence(self, spark):
        """n_new_grams must equal the brute-force 'grams not seen in
        any alphabetically-earlier source' count, and cum_grams the
        running distinct-coverage union."""
        from redshift_avro_spark.operators.text import gram_novelty

        rows = [
            (1, "s_a", "alpha beta gamma delta epsilon"),
            (2, "s_b", "alpha beta gamma delta zeta"),      # shares a 4-gram prefix window? no: windows differ
            (3, "s_b", "one two three four five"),
            (4, "s_c", "one two three four"),                # exact window from s_b
            (5, "s_c", "totally fresh words appearing here"),
            (6, "s_a", "short"),                             # below window -> no grams
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        out = {r["source"]: r for r in gram_novelty(df, window=4).collect()}

        def grams(t):
            ws = t.lower().strip().split()
            return {" ".join(ws[i : i + 4]) for i in range(len(ws) - 3)}

        by_src = {}
        for _, s, t in [(r[0], r[1], r[2]) for r in rows]:
            by_src.setdefault(s, set()).update(grams(t))
        seen = set()
        cum = 0
        for rank, s in enumerate(sorted(by_src), start=1):
            g = by_src[s]
            new = g - seen
            seen |= g
            cum += len(new)
            r = out[s]
            assert r["source_rank"] == rank
            assert r["n_grams"] == len(g), s
            assert r["n_new_grams"] == len(new), s
            assert r["novelty_ppm"] == len(new) * 1_000_000 // len(g)
            assert r["cum_grams"] == cum, s

    def test_first_source_gets_full_novelty(self, spark):
        from redshift_avro_spark.operators.text import gram_novelty

        rows = [(1, "a_first", "w1 w2 w3 w4 w5"), (2, "b_dup", "w1 w2 w3 w4 w5")]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        out = {r["source"]: r for r in gram_novelty(df, window=4).collect()}
        assert out["a_first"]["novelty_ppm"] == 1_000_000
        assert out["b_dup"]["n_new_grams"] == 0
        assert out["b_dup"]["novelty_ppm"] == 0
        # coverage never double-counts the duplicated grams
        assert out["b_dup"]["cum_grams"] == out["a_first"]["n_grams"]

    def test_total_coverage_is_corpus_vocabulary(self, spark):
        """The last cum_grams equals the corpus-wide distinct gram
        count — the partition property that makes the column a
        coverage curve."""
        from pyspark.sql import functions as F
        from redshift_avro_spark.queries.relational import load_table

        out = REGISTRY["q198_gram_novelty"].fn(spark, SF_SMOKE).collect()
        assert len(out) >= 2
        last = max(out, key=lambda r: r["source_rank"])
        docs = load_table(spark, SF_SMOKE, "documents")
        n_all = (
            docs.select(
                F.explode(
                    F.expr(
                        "transform(array(split(trim(lower(text)), '\\\\s+')), ws -> "
                        "transform(sequence(1, greatest(size(ws) - 3, 0)), "
                        "i -> array_join(slice(ws, i, 4), ' ')))[0]"
                    )
                ).alias("g")
            )
            .agg(F.countDistinct("g"))
            .collect()[0][0]
        )
        assert last["cum_grams"] == n_all
        assert sum(r["n_new_grams"] for r in out) == n_all


class TestEpochAllocation:
    """q199 (round 10): data-constrained capped water-filling of a
    token budget (Muennighoff et al. 2023 repeat regime)."""

    def test_cap_fires_and_surplus_redistributes(self):
        from redshift_avro_spark.operators.training import epoch_allocation

        # tiny lang with a huge temperature weight -> capped at 4
        # epochs; its surplus flows to the others
        shares = [("big", 1_000_000, 300_000), ("tiny", 1_000, 700_000)]
        budget = 2 * (1_000_000 + 1_000)
        rows, leftover = epoch_allocation(shares, budget, epoch_cap=4)
        assert rows["tiny"]["capped"] and rows["tiny"]["alloc"] == 4_000
        assert not rows["big"]["capped"]
        # everything not capped got the rest (minus floor remainder)
        assert rows["big"]["alloc"] + rows["tiny"]["alloc"] + leftover == budget
        assert 0 <= leftover < 2  # one uncapped group -> remainder < 1
        assert rows["big"]["alloc"] <= rows["big"]["cap"]

    def test_cascade_of_caps(self):
        from redshift_avro_spark.operators.training import epoch_allocation

        # two tiny high-weight groups cap in successive waves
        shares = [
            ("a", 10_000_000, 100_000),
            ("b", 1_000, 450_000),
            ("c", 2_000, 450_000),
        ]
        budget = 2 * sum(t for _, t, _ in shares)
        rows, leftover = epoch_allocation(shares, budget, epoch_cap=4)
        assert rows["b"]["capped"] and rows["b"]["alloc"] == 4_000
        assert rows["c"]["capped"] and rows["c"]["alloc"] == 8_000
        assert not rows["a"]["capped"]
        total = sum(s["alloc"] for s in rows.values()) + leftover
        assert total == budget

    def test_budget_below_caps_is_fully_proportional(self):
        from redshift_avro_spark.operators.training import epoch_allocation

        shares = [("a", 1000, 500_000), ("b", 1000, 500_000)]
        rows, leftover = epoch_allocation(shares, 1000, epoch_cap=4)
        assert rows["a"]["alloc"] == rows["b"]["alloc"] == 500
        assert leftover == 0
        assert not rows["a"]["capped"] and not rows["b"]["capped"]

    def test_split_form_survives_1e13_tokens(self):
        """The 100 TB regime: r ~ 5e13 tokens x ppm weights overflows
        a naive r*w product past int64; the split form must still be
        exact (Python ints don't overflow, so compare against the
        naive form directly)."""
        from redshift_avro_spark.operators.training import epoch_allocation

        t_a, t_b = 3 * 10**13, 2 * 10**13
        shares = [("a", t_a, 550_000), ("b", t_b, 450_000)]
        budget = 2 * (t_a + t_b)
        rows, leftover = epoch_allocation(shares, budget, epoch_cap=4)
        sw = 1_000_000
        exp_a = budget * 550_000 // sw  # exact big-int reference
        assert rows["a"]["alloc"] == exp_a
        assert rows["a"]["alloc"] + rows["b"]["alloc"] + leftover == budget
        # and every intermediate the SQL replays stays under int64
        assert (budget // sw) * 550_000 + ((budget % sw) * 550_000) // sw < 2**63

    def test_gated_query_invariants(self, spark):
        out = REGISTRY["q199_epoch_allocation"].fn(spark, SF_SMOKE).collect()
        assert len(out) >= 2
        budget = out[0]["budget_tokens"]
        leftover = out[0]["leftover_tokens"]
        assert sum(r["alloc_tokens"] for r in out) + leftover == budget
        for r in out:
            assert r["alloc_tokens"] <= r["cap_tokens"]
            assert r["epochs_ppm"] <= 4_000_000
            if r["is_capped"]:
                assert r["alloc_tokens"] == r["cap_tokens"]
            assert r["cap_tokens"] == 4 * r["n_tokens"]

    def test_oracle_replays_cap_branch(self, spark, tmp_path):
        """The unrolled SQL steps must replay the Python loop through
        an ACTUAL cap wave — the gate fixture never caps (max ~2.6
        epochs), so this pins the branch on a synthetic corpus where
        the tiny upweighted lang hits the 4-epoch cap."""
        import duckdb

        rows = [
            (i, "en", "the quick brown fox jumps over the lazy dog number %d" % i)
            for i in range(400)
        ] + [(1000 + i, "zh", "短 文 档 %d" % i) for i in range(3)]
        df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        pq = str(tmp_path / "documents.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(pq)
        out = REGISTRY["q199_epoch_allocation"].fn(spark, str(tmp_path)).collect()
        got = {r["lang"]: r for r in out}
        assert got["zh"]["is_capped"] and got["zh"]["epochs_ppm"] == 4_000_000
        assert not got["en"]["is_capped"]
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW documents AS SELECT * FROM '{pq}/*.parquet'"
        )
        duck = con.sql(REGISTRY["q199_epoch_allocation"].oracle).df()
        exp = {
            r["lang"]: r for _, r in duck.iterrows()
        }
        for lang, r in got.items():
            for c in ("n_tokens", "weight_ppm", "cap_tokens", "alloc_tokens",
                      "epochs_ppm", "budget_tokens", "leftover_tokens"):
                assert r[c] == exp[lang][c], (lang, c)
            assert bool(r["is_capped"]) == bool(exp[lang]["is_capped"])


class TestRocAudit:
    """q200 (round 10): exact ROC + Mann-Whitney AUC from a two-phase
    bounded histogram."""

    def _auc(self, spark, pairs):
        from redshift_avro_spark.operators.text import roc_audit

        df = spark.createDataFrame(pairs, "score long, label boolean")
        out = roc_audit(df, "score", "label", bin_width=10, shift=1000).collect()
        return out

    def test_perfect_separation_is_1e6(self, spark):
        pairs = [(s, True) for s in range(-50, -40)] + [
            (s, False) for s in range(40, 50)
        ]
        out = self._auc(spark, pairs)
        assert out[0]["auc_ppm"] == 1_000_000
        # the last cutoff drops everything
        last = max(out, key=lambda r: r["cutoff_ppm"])
        assert last["tpr_ppm"] == 1_000_000 and last["fpr_ppm"] == 1_000_000
        # some cutoff separates perfectly: tpr=1e6 at fpr=0
        assert any(
            r["tpr_ppm"] == 1_000_000 and r["fpr_ppm"] == 0 for r in out
        )

    def test_inverted_classifier_is_0(self, spark):
        pairs = [(s, False) for s in range(-50, -40)] + [
            (s, True) for s in range(40, 50)
        ]
        out = self._auc(spark, pairs)
        assert out[0]["auc_ppm"] == 0

    def test_all_ties_is_half(self, spark):
        pairs = [(7, True)] * 10 + [(7, False)] * 10
        out = self._auc(spark, pairs)
        assert out[0]["auc_ppm"] == 500_000

    def test_exact_u_statistic_brute_force(self, spark):
        import itertools

        # deterministic interleaved scores with ties across classes
        pairs = [((i * 37) % 23 - 11, i % 3 == 0) for i in range(60)]
        out = self._auc(spark, pairs)
        pos = [s for s, y in pairs if y]
        neg = [s for s, y in pairs if not y]
        u2 = sum(
            2 if p < n else (1 if p == n else 0)
            for p, n in itertools.product(pos, neg)
        )
        exp = u2 * 1_000_000 // (2 * len(pos) * len(neg))
        assert out[0]["auc_ppm"] == exp
        # curve bookkeeping: per-bin masses sum to totals, cums monotone
        assert sum(r["n_pos"] for r in out) == len(pos) == out[0]["pos_total"]
        assert sum(r["n_neg"] for r in out) == len(neg)
        tprs = [r["tpr_ppm"] for r in sorted(out, key=lambda r: r["cutoff_ppm"])]
        assert tprs == sorted(tprs)

    def test_gated_query_grades_the_injected_boilerplate(self, spark):
        out = REGISTRY["q200_filter_roc_audit"].fn(spark, SF_SMOKE).collect()
        assert len(out) >= 3
        auc = out[0]["auc_ppm"]
        assert 0 <= auc <= 1_000_000
        assert out[0]["pos_total"] > 0 and out[0]["neg_total"] > 0
        # label definition matches the q186 synth injection rule
        from redshift_avro_spark.queries.relational import load_table

        n_bad = load_table(spark, SF_SMOKE, "documents").where(
            "doc_id % 31 = 0"
        ).count()
        assert out[0]["pos_total"] == n_bad


class TestStreamQualityGate:
    """q201 (round 10): streaming quality-gate counters must equal the
    batch gates regardless of micro-batching."""

    def test_stream_equals_batch_gates(self, spark):
        from pyspark.sql import functions as F
        from redshift_avro_spark.operators.text import (
            quality_classifier_score,
            quality_features,
        )
        from redshift_avro_spark.queries.relational import load_table

        out = {
            r["lang"]: r
            for r in REGISTRY["q201_stream_quality_gate"].fn(spark, SF_SMOKE).collect()
        }
        docs = load_table(spark, SF_SMOKE, "documents")
        exp = {
            r["lang"]: r
            for r in docs.select(
                "lang",
                (quality_features("text")["quality_score"] >= 0.68).alias("kh"),
                quality_classifier_score("text")["keep"].alias("kc"),
            )
            .groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.when(F.col("kh"), 1).otherwise(0)).alias("nh"),
                F.sum(F.when(F.col("kc"), 1).otherwise(0)).alias("nc"),
                F.sum(F.when(F.col("kh") & F.col("kc"), 1).otherwise(0)).alias("nb"),
            )
            .collect()
        }
        assert set(out) == set(exp)
        for lang, r in out.items():
            assert r["n_docs"] == exp[lang]["n_docs"], lang
            assert r["n_keep_heur"] == exp[lang]["nh"], lang
            assert r["n_keep_clf"] == exp[lang]["nc"], lang
            assert r["n_keep_both"] == exp[lang]["nb"], lang
            assert r["keep_both_ppm"] == r["n_keep_both"] * 1_000_000 // r["n_docs"]

    def test_multiple_batches_were_processed(self, spark):
        """The landing zone writes 8 files with maxFilesPerTrigger=3 —
        the stream MUST have micro-batched (>=2 update emissions per
        touched lang would show in the raw sink; here we assert the
        end state is batch-equal while the corpus spans all langs,
        which a single-batch shortcut could not fake given the
        repartition(8) landing)."""
        out = REGISTRY["q201_stream_quality_gate"].fn(spark, SF_SMOKE).collect()
        assert len(out) >= 4  # all fixture langs present
        assert sum(r["n_docs"] for r in out) == 500  # sf0.001 doc count


class TestIvfNprobeSweep:
    """q202 (round 10): the IVF recall-vs-n_probe tuning curve — one
    training, four probe settings."""

    def test_recall_monotone_and_exhaustive_is_exact(self, spark):
        out = sorted(
            REGISTRY["q202_ivf_nprobe_sweep"].fn(spark, SF_SMOKE).collect(),
            key=lambda r: r["n_probe"],
        )
        assert [r["n_probe"] for r in out] == [1, 2, 4, 8]
        recalls = [r["recall_ppm"] for r in out]
        assert recalls == sorted(recalls)  # more probes never hurt
        # n_probe == n_centroids probes every cell == brute force
        assert out[-1]["recall_ppm"] == 1_000_000
        for r in out:
            assert r["n_exact"] == out[0]["n_exact"]  # same ground truth
            assert r["recall_ppm"] == r["n_hits"] * 1_000_000 // r["n_exact"]

    def test_nprobe2_matches_q159_micro_average(self, spark):
        """The sweep's n_probe=2 point must equal the micro-average of
        q159's per-query ivf recall (same training, same probe count)."""
        sweep = {
            r["n_probe"]: r
            for r in REGISTRY["q202_ivf_nprobe_sweep"].fn(spark, SF_SMOKE).collect()
        }
        per_q = REGISTRY["q159_ann_recall"].fn(spark, SF_SMOKE).collect()
        hits = sum(r["ivf_hits"] for r in per_q)
        exact = sum(r["n_exact"] for r in per_q)
        assert sweep[2]["n_hits"] == hits
        assert sweep[2]["n_exact"] == exact
        assert sweep[2]["recall_ppm"] == hits * 1_000_000 // exact


class TestContextLengthSweep:
    """q203 (round 10): pad-vs-pack cost per candidate context
    budget, exact integer ceil arithmetic."""

    def test_brute_force_per_doc_equivalence(self, spark):
        from pyspark.sql import functions as F
        from redshift_avro_spark.operators.text import token_count
        from redshift_avro_spark.queries.relational import load_table

        docs = load_table(spark, SF_SMOKE, "documents")
        toks = [
            (r["lang"], r["t"])
            for r in docs.select(
                "lang", token_count("text")["n_tokens_est"].cast("long").alias("t")
            ).collect()
        ]
        out = {
            r["budget"]: r
            for r in REGISTRY["q203_context_length_sweep"].fn(spark, SF_SMOKE).collect()
        }
        assert set(out) == {512, 1024, 2048, 4096, 8192}
        total = sum(t for _, t in toks)
        for b, r in out.items():
            pad_seqs = sum((t + b - 1) // b for _, t in toks)
            assert r["n_docs"] == len(toks)
            assert r["total_tokens"] == total
            assert r["pad_seqs"] == pad_seqs
            assert r["pad_tokens"] == pad_seqs * b
            assert r["pad_waste_ppm"] == (pad_seqs * b - total) * 1_000_000 // (pad_seqs * b)
            # packed lower bound: per-lang ceil of totals
            lang_tot = {}
            for lang, t in toks:
                lang_tot[lang] = lang_tot.get(lang, 0) + t
            packed = sum((t + b - 1) // b for t in lang_tot.values())
            assert r["packed_seqs_lb"] == packed

    def test_packing_always_at_least_as_tight(self, spark):
        out = REGISTRY["q203_context_length_sweep"].fn(spark, SF_SMOKE).collect()
        for r in out:
            assert r["packed_seqs_lb"] <= r["pad_seqs"]
            assert r["packed_waste_lb_ppm"] <= r["pad_waste_ppm"]
        # waste grows with the budget under both policies on this corpus
        by_b = sorted(out, key=lambda r: r["budget"])
        pad = [r["pad_waste_ppm"] for r in by_b]
        assert pad == sorted(pad)


class TestShardManifest:
    """q204 (round 10): the q167 shard plan extended with an
    order-independent XOR content digest."""

    def test_manifest_agrees_with_shard_plan(self, spark):
        plan = {
            (r["source"], r["shard"]): r
            for r in REGISTRY["q167_shard_plan"].fn(spark, SF_SMOKE).collect()
        }
        man = {
            (r["source"], r["shard"]): r
            for r in REGISTRY["q204_shard_manifest"].fn(spark, SF_SMOKE).collect()
        }
        assert set(man) == set(plan)  # identical shard assignment
        for k, r in man.items():
            for c in ("n_docs", "shard_tokens", "first_doc", "last_doc"):
                assert r[c] == plan[k][c], (k, c)

    def test_digest_detects_content_change(self, spark, tmp_path):
        """Flipping ONE document's text must change exactly the
        digests of the shard holding it — the verification property
        the manifest exists for."""
        from redshift_avro_spark.queries.relational import load_table
        from pyspark.sql import functions as F

        docs = load_table(spark, SF_SMOKE, "documents")
        base = str(tmp_path / "a")
        mut = str(tmp_path / "b")
        docs.coalesce(1).write.parquet(base + "/documents.parquet")
        docs.withColumn(
            "text",
            F.when(F.col("doc_id") == 7, F.concat(F.col("text"), F.lit(" x")))
            .otherwise(F.col("text")),
        ).coalesce(1).write.parquet(mut + "/documents.parquet")
        a = {
            (r["source"], r["shard"]): r["content_digest"]
            for r in REGISTRY["q204_shard_manifest"].fn(spark, base).collect()
        }
        b = {
            (r["source"], r["shard"]): r["content_digest"]
            for r in REGISTRY["q204_shard_manifest"].fn(spark, mut).collect()
        }
        diff = {k for k in set(a) | set(b) if a.get(k) != b.get(k)}
        # the mutated doc's source MUST show a changed digest; every
        # OTHER source must be untouched. (Within the mutated source,
        # the +1-token shift may legally move later docs across shard
        # boundaries, so the exact changed-shard count is not pinned.)
        src7 = docs.where("doc_id = 7").select("source").collect()[0][0]
        assert diff, "content change must change at least one digest"
        assert all(k[0] == src7 for k in diff), diff
        assert any(k[0] == src7 for k in diff)


class TestAnnCostAudit:
    """q205 (round 10): exact candidates-examined counts per ANN
    method on the same indexes q202 grades recall on."""

    def test_cost_hierarchy_and_exact_brute(self, spark):
        out = {
            r["method"]: r
            for r in REGISTRY["q205_ann_cost_audit"].fn(spark, SF_SMOKE).collect()
        }
        from redshift_avro_spark.queries.relational import load_table

        n = load_table(spark, SF_SMOKE, "embeddings").count()
        assert out["brute"]["min_candidates"] == n - 1
        assert out["brute"]["max_candidates"] == n - 1
        assert out["brute"]["work_vs_brute_ppm"] == 1_000_000
        # more probes examine more candidates, never fewer
        ivf = [out[f"ivf@{p}"]["total_candidates"] for p in (1, 2, 4, 8)]
        assert ivf == sorted(ivf)
        # ivf@8 probes all 8 cells == the whole corpus minus self
        assert out["ivf@8"]["total_candidates"] == out["brute"]["total_candidates"]
        # approximate methods cost less than brute below exhaustion
        assert out["ivf@1"]["total_candidates"] < out["brute"]["total_candidates"]
        assert out["lsh"]["total_candidates"] < out["brute"]["total_candidates"]

    def test_cost_matches_index_populations(self, spark):
        """LSH cost must equal the query-bucket populations computed
        independently from the operator's own bucket key."""
        from pyspark.sql import functions as F
        from redshift_avro_spark.operators.similarity import lsh_bucket_key
        from redshift_avro_spark.queries.relational import load_table

        emb = load_table(spark, SF_SMOKE, "embeddings")
        key = lsh_bucket_key("embedding", 4, 64)
        sizes = {
            r["bucket"]: r["n"]
            for r in emb.select(key.alias("bucket")).groupBy("bucket").count()
            .withColumnRenamed("count", "n").collect()
        }
        qb = [
            sizes[r["bucket"]] - 1
            for r in emb.where("vec_id < 10").select(key.alias("bucket")).collect()
        ]
        out = {
            r["method"]: r
            for r in REGISTRY["q205_ann_cost_audit"].fn(spark, SF_SMOKE).collect()
        }
        assert out["lsh"]["total_candidates"] == sum(qb)
        assert out["lsh"]["min_candidates"] == min(qb)
        assert out["lsh"]["max_candidates"] == max(qb)


class TestReviewGuards:
    """Round-10 review fixes: NULL-score ROC contract, epoch-step
    guard, and the 100 TB-safe kept_token_ppm form."""

    def test_roc_audit_excludes_null_scores(self, spark):
        from redshift_avro_spark.operators.text import roc_audit

        pairs = [(10, True), (20, False), (None, True), (None, False)]
        df = spark.createDataFrame(pairs, "score long, label boolean")
        out = roc_audit(df, "score", "label", bin_width=10, shift=100).collect()
        # NULL-scored rows are excluded from totals AND the AUC
        assert out[0]["pos_total"] == 1 and out[0]["neg_total"] == 1
        assert out[0]["auc_ppm"] == 1_000_000  # 10 < 20, clean separation

    def test_epoch_allocation_rejects_too_few_steps(self):
        import pytest
        from redshift_avro_spark.operators.training import epoch_allocation

        shares = [(str(i), 100, 100_000) for i in range(7)]
        with pytest.raises(ValueError, match="max_steps"):
            epoch_allocation(shares, 1000, max_steps=6)
        # and the documented bound is sufficient
        rows, leftover = epoch_allocation(shares, 1000, max_steps=8)
        assert sum(s["alloc"] for s in rows.values()) + leftover == 1000

    def test_kept_token_ppm_multiplier_split_is_exact(self):
        """The q196 form ((q*1000)//d)*1000 + ((q*1000)%d)*1000//d must
        equal q*1e6//d for token scales past int64 * 1e6."""
        for q, d in [
            (0, 1), (1, 3), (2, 3),
            (9_200_000_000_000, 9_200_000_000_001),  # ~int64/1e6 edge
            (2_500_000_000_000, 25_000_000_000_000),  # 100 TB regime
            (24_999_999_999_999, 25_000_000_000_000),
        ]:
            exact = q * 1_000_000 // d
            split = ((q * 1000) // d) * 1000 + (((q * 1000) % d) * 1000) // d
            assert split == exact, (q, d)
            # every intermediate fits int64
            assert q * 1000 < 2**63 and ((q * 1000) % d) * 1000 < 2**63


class TestR10OptimizationEquivalence:
    """Round-10 optimization-round rewrites must equal the forms they
    replaced on the cases the gate fixtures may not exercise."""

    def test_q193_minby_argmax_equals_window_rn1_on_ties(self, spark):
        # q193's top-source now comes from min_by(source, struct(-c,
        # source)) in the same aggregation as reach; pin that it equals
        # the former ROW_NUMBER (c DESC, source) rn=1 election when
        # sources TIE on the hit count (the fixture corpus has no tie).
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        per_src = spark.createDataFrame(
            [
                (1, "web", 5), (1, "books", 5), (1, "code", 2),  # tie on 5
                (2, "zzz", 7), (2, "aaa", 1),
                (3, "only", 4),
            ],
            "bench_id long, source string, c long",
        )
        got = {
            r["bench_id"]: (r["top_source"], r["top_source_hits"])
            for r in per_src.groupBy("bench_id")
            .agg(
                F.expr("min_by(source, struct(-c, source))").alias("top_source"),
                F.expr("min_by(c, struct(-c, source))")
                .cast("long")
                .alias("top_source_hits"),
            )
            .collect()
        }
        rn = Window.partitionBy("bench_id").orderBy(F.desc("c"), F.asc("source"))
        want = {
            r["bench_id"]: (r["source"], r["c"])
            for r in per_src.withColumn("rn", F.row_number().over(rn))
            .where(F.col("rn") == 1)
            .collect()
        }
        assert got == want
        assert got[1] == ("books", 5)  # the tie resolves lexicographically

    def test_q177_first_value_keeper_equals_rn1(self, spark):
        # q177's keeper_id now comes from first_value over the full
        # (qs6 DESC, doc_id) frame instead of an rn=1 self-join; pin the
        # argmax equivalence including a quality tie inside a cluster.
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        m = spark.createDataFrame(
            [
                (10, 1, 900), (11, 1, 900), (12, 1, 100),  # tie → min doc_id
                (20, 2, 500), (21, 2, 700),
            ],
            "doc_id long, component_id long, qs6 long",
        )
        w_rank = Window.partitionBy("component_id").orderBy(
            F.desc("qs6"), F.asc("doc_id")
        )
        w_full = w_rank.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        got = {
            r["doc_id"]: r["keeper_id"]
            for r in m.withColumn(
                "keeper_id", F.first("doc_id").over(w_full)
            ).collect()
        }
        keepers = {
            r["component_id"]: r["doc_id"]
            for r in m.withColumn("rn", F.row_number().over(w_rank))
            .where(F.col("rn") == 1)
            .collect()
        }
        want = {
            r["doc_id"]: keepers[r["component_id"]] for r in m.collect()
        }
        assert got == want and got[10] == 10 and got[11] == 10 and got[20] == 21

    def test_topk_neighbors_salted_rank_equals_single_window(self, spark):
        # the salt_parts two-phase rank (the 100 TB lever) must return
        # the IDENTICAL frame for every S, including S larger than the
        # corpus — the survivor set always contains the global top-k
        # and the final order key (cosine DESC, neighbor_id) is unique.
        from redshift_avro_spark.operators.similarity import topk_neighbors
        from redshift_avro_spark.queries import load_table

        emb = load_table(spark, SF_SMOKE, "embeddings")
        qs = emb.where("vec_id < 5")
        base = sorted(
            tuple(r)
            for r in topk_neighbors(emb, qs, "vec_id", "embedding", k=5, dim=64)
            .collect()
        )
        for s in (2, 7, 1000):
            salted = sorted(
                tuple(r)
                for r in topk_neighbors(
                    emb, qs, "vec_id", "embedding", k=5, dim=64, salt_parts=s
                ).collect()
            )
            assert salted == base, f"salt_parts={s} diverged"

"""operators/staging.py: lineage cuts (materialize), generation release
and eviction, the per-corpus memo (memoized) and the small-input
spreading rule (spread_small_input)."""

from __future__ import annotations

import inspect
import logging
import os
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from redshift_avro_spark.operators import staging
from redshift_avro_spark.queries import load_table


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


class TestMaterializeHelper:
    def test_modes_value_identical(self, spark):
        df = spark.range(100).withColumn("v", F.col("id") * 3)
        base = sorted(tuple(r) for r in df.collect())
        for mode in ("checkpoint", "parquet", "none"):
            out = staging.materialize(df, label=f"t_{mode}", default=mode)
            assert sorted(tuple(r) for r in out.collect()) == base

    def test_env_resolution_order(self, monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_MATERIALIZE", raising=False)
        assert staging.resolve_mode("q49_survivors", "parquet") == "parquet"
        monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "none")
        assert staging.resolve_mode("q49_survivors", "parquet") == "none"
        monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE_Q49_SURVIVORS", "parquet")
        assert staging.resolve_mode("q49_survivors", "parquet") == "parquet"
        # unknown values fall through to the default
        monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE_Q49_SURVIVORS", "bogus")
        monkeypatch.delenv("SPARK_GRAFT_MATERIALIZE")
        assert staging.resolve_mode("q49_survivors", "parquet") == "parquet"


class TestStagingPathPerInvocation:
    """Composites reuse one label ('lsh_candidates') across members;
    parquet mode must not let a later member's write clobber part files
    an earlier member's lazy read already listed."""

    def test_parquet_label_reuse_keeps_both_frames(self, spark, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "parquet")
        a = staging.materialize(spark.range(0, 5), label="shared_label")
        b = staging.materialize(spark.range(100, 102), label="shared_label")
        # action AFTER both writes — the composite evaluation order
        assert sorted(r[0] for r in a.collect()) == [0, 1, 2, 3, 4]
        assert sorted(r[0] for r in b.collect()) == [100, 101]
        assert a.unionAll(b).count() == 7

    def test_parquet_paths_are_invocation_unique(self, spark, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "parquet")
        a = staging.materialize(spark.range(3), label="uniq")
        b = staging.materialize(spark.range(3), label="uniq")
        pa = a.inputFiles()[0].rsplit("/", 1)[0]
        pb = b.inputFiles()[0].rsplit("/", 1)[0]
        assert pa != pb


def test_parquet_generations_are_bounded_per_label(spark, monkeypatch):
    """A long-lived process must not accumulate one staging dir per
    invocation forever: only the newest _GENERATIONS_PER_LABEL dirs
    per label survive."""
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "parquet")
    frames = [
        staging.materialize(spark.range(i, i + 1), label="bounded")
        for i in range(staging._GENERATIONS_PER_LABEL + 5)
    ]
    gens = [path for _, path in staging._GENERATIONS["bounded"]]
    assert len(gens) == staging._GENERATIONS_PER_LABEL
    live = [p for p in gens if os.path.isdir(p)]
    assert len(live) == staging._GENERATIONS_PER_LABEL
    # the newest frames (within the window) still read fine
    assert frames[-1].collect()[0][0] == staging._GENERATIONS_PER_LABEL + 4
    assert frames[-staging._GENERATIONS_PER_LABEL].count() == 1


class TestCheckpointGenerationBound:
    def test_superseded_checkpoints_are_unpersisted(self, spark):
        """> _GENERATIONS_PER_LABEL same-label checkpoint frames: only
        the newest N keep their blocks; the evicted ones release
        executor storage and fail LOUDLY on read (lineage is cut — same
        failure mode as the parquet arm's evicted dirs, never a silent
        wrong answer)."""
        label = "cp_bounded_r8"
        before = _persistent_rdd_count(spark)
        frames = [
            staging.materialize(
                spark.range(i, i + 1), label=label, default="checkpoint"
            )
            for i in range(staging._GENERATIONS_PER_LABEL + 5)
        ]
        kept = staging._GENERATIONS[label]
        assert len(kept) == staging._GENERATIONS_PER_LABEL
        # storage growth is bounded by the cap, not the call count
        assert (
            _persistent_rdd_count(spark) - before
            <= staging._GENERATIONS_PER_LABEL
        )
        # the full liveness window stays readable
        assert frames[-1].collect()[0][0] == staging._GENERATIONS_PER_LABEL + 4
        assert frames[-staging._GENERATIONS_PER_LABEL].count() == 1
        # an evicted generation fails loudly, not silently wrong
        with pytest.raises(Exception):
            frames[0].collect()
        # cleanup: release this test's own blocks
        for f, _ in list(kept):
            staging.release(f)
        staging._GENERATIONS.pop(label, None)

    def test_unpersist_checkpoint_releases_blocks(self, spark):
        before = _persistent_rdd_count(spark)
        cp = spark.range(10).localCheckpoint(eager=True)
        assert _persistent_rdd_count(spark) == before + 1
        staging._unpersist_checkpoint(cp)
        assert _persistent_rdd_count(spark) == before

    def test_unpersist_checkpoint_is_best_effort(self, spark):
        """A non-checkpoint frame (no LogicalRDD at the plan root) must
        degrade to a no-op, never raise."""
        staging._unpersist_checkpoint(spark.range(3).selectExpr("id * 2 AS v"))


class TestLoopRelease:
    def test_pagerank_20_iterations_no_eviction_warning(self, spark, monkeypatch, caplog):
        """A loop longer than the generation cap releases each round it
        supersedes instead of tripping the eviction warning, and the
        values still match the pure-Python replica."""
        from test_graph_ops import EDGES, _ref, _spark_edges

        from redshift_avro_spark.operators.graph import pagerank

        monkeypatch.setattr(staging, "_GENERATIONS", {})
        with caplog.at_level(logging.WARNING, logger=staging.__name__):
            rows = pagerank(_spark_edges(spark, EDGES), iterations=20).collect()
        assert not [r for r in caplog.records if r.name == staging.__name__]
        assert len(staging._GENERATIONS["pagerank_ranks"]) == 1
        want_r, want_out = _ref(EDGES, 20)
        assert {r.node: (r.outdeg, r.rank_fp) for r in rows} == {
            v: (want_out.get(v, 0), want_r[v]) for v in want_r
        }

    def test_parquet_mode_reaches_bpe_corpus_and_cc_labels(self, spark, monkeypatch):
        """SPARK_GRAFT_MATERIALIZE=parquet stages the BPE corpus and the
        connected-components labels on disk, releases the superseded
        rounds, and changes no value."""
        from redshift_avro_spark.operators.bpe import learn_bpe_merges
        from redshift_avro_spark.operators.dedup import connected_components
        from redshift_avro_spark.queries.relational import load_table

        docs = load_table(spark, SF_SMOKE, "documents")
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 6)] + [(20, 21)], "id_a long, id_b long"
        )

        def run():
            merges = learn_bpe_merges(docs, id_col="doc_id", text_col="text", rounds=3)
            comp = connected_components(edges, "id_a", "id_b", driver_cap=0)
            return sorted(map(tuple, merges.collect())), comp

        want, want_comp = run()
        want_comp = sorted(map(tuple, want_comp.collect()))

        dropped = []
        drop = staging._drop
        monkeypatch.setattr(staging, "_drop", lambda f, p: (dropped.append(p), drop(f, p)))
        monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "parquet")
        got, comp = run()
        assert got == want
        assert sorted(map(tuple, comp.collect())) == want_comp
        assert "stage_cc_labels_" in comp.inputFiles()[0]
        bpe_dirs = [p for p in dropped if p and "stage_bpe_corpus_" in p]
        assert len(bpe_dirs) == 3  # the initial corpus + rounds 1..2, all released
        assert not any(os.path.isdir(p) for p in bpe_dirs)
        assert any(p and "stage_cc_labels_" in p for p in dropped)


def test_only_staging_cuts_lineage_or_memoizes():
    pkg = pathlib.Path(staging.__file__).parent.parent
    offenders = [
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if p.name != "staging.py"
        and ("localCheckpoint" in p.read_text() or "_MEMO: dict" in p.read_text())
    ]
    assert offenders == []


def test_memoized_keeps_newest_corpora_per_label(monkeypatch):
    class _Spark:
        class sparkContext:
            applicationId = "app-test"

    monkeypatch.setattr(staging, "_MEMO", {})
    built = []
    for i in range(staging._MEMO_CORPORA_PER_LABEL + 2):
        staging.memoized("m", _Spark, f"/corpus/{i}", lambda: built.append(i) or i)
    assert staging.memoized("m", _Spark, "/corpus/5", lambda: -1) == 5  # hit
    assert len(built) == staging._MEMO_CORPORA_PER_LABEL + 2
    assert [k[1] for k in staging._MEMO["m"]] == [f"/corpus/{i}" for i in range(2, 6)]
    assert staging.memoized("m", _Spark, "/corpus/0", lambda: -1) == -1  # evicted: rebuilt


class TestSemanticCellsShared:
    def test_q93_members_share_one_training(self, spark):
        """q94 and q181 (and hence the q93 composite) reuse ONE trained
        cell assignment per (app, corpus) instead of re-running
        seeding + Lloyd + assignment per member."""
        from redshift_avro_spark.queries import similarity as qs

        staging._MEMO.pop("sd_cells", None)
        a = qs._sd_cells(spark, SF_SMOKE)
        b = qs._sd_cells(spark, SF_SMOKE)
        assert a is b
        assert len(staging._MEMO["sd_cells"]) == 1


class TestKnScoresShared:
    def test_q188_q189_share_one_training(self, spark):
        """q188 and q189 reuse ONE trigram-LM training per
        (app, corpus); the memo must return the identical staged frame
        object, not retrain."""
        from redshift_avro_spark.queries import text as qt

        staging._MEMO.pop("kn_scores", None)
        a = qt._kn_scores(spark, SF_SMOKE)
        b = qt._kn_scores(spark, SF_SMOKE)
        assert a is b
        assert len(staging._MEMO["kn_scores"]) == 1


class TestTokenizerEfficiency:
    def test_memo_shares_one_encode(self, spark):
        from redshift_avro_spark.queries.vocab_q import _bpe_encoded

        a = _bpe_encoded(spark, SF_SMOKE)
        b = _bpe_encoded(spark, SF_SMOKE)
        assert a is b  # second consumer reads the same staged frame
        key = (spark.sparkContext.applicationId, os.path.abspath(SF_SMOKE))
        assert key in staging._MEMO["bpe_encoded"]


def _spread_target(spark) -> int:
    return max(2, spark.sparkContext.defaultParallelism // 2)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestSpreadSmallInput:
    def test_one_file_spreads_to_target(self, spark):
        df = load_table(spark, SF_SMOKE, "events")
        assert len(df.inputFiles()) == 1
        out = staging.spread_small_input(df)
        assert out.rdd.getNumPartitions() == _spread_target(spark)
        assert "RoundRobinPartitioning" in _executed_plan(out)

    def test_keys_hash_partition(self, spark):
        df = load_table(spark, SF_SMOKE, "documents")
        out = staging.spread_small_input(df, "doc_id")
        assert re.search(
            rf"hashpartitioning\(doc_id#\d+L?, {_spread_target(spark)}\)", _executed_plan(out)
        )

    def test_many_files_keep_their_partitioning(self, spark, tmp_path):
        n = _spread_target(spark)
        spark.range(0, 100, numPartitions=n).write.parquet(str(tmp_path / "t"))
        df = spark.read.parquet(str(tmp_path / "t"))
        assert len(df.inputFiles()) >= n
        assert staging.spread_small_input(df, "id") is df

    def test_checkpoint_frame_spreads(self, spark):
        cp = spark.range(50).localCheckpoint()
        assert cp.inputFiles() == []
        out = staging.spread_small_input(cp)
        assert out is not cp
        assert out.rdd.getNumPartitions() == _spread_target(spark)

    def test_probe_starts_no_job(self, spark):
        """``inputFiles()`` plans on the driver only; an aggregated,
        joined frame (where ``rdd.getNumPartitions()`` would run the
        shuffle stages under AQE) starts no Spark job."""
        df = load_table(spark, SF_SMOKE, "documents")
        agg = df.groupBy("source").count().join(df, "source")
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup())
        staging.spread_small_input(agg, "doc_id")
        assert set(tracker.getJobIdsForGroup()) == before


def test_only_spread_small_input_sizes_to_the_cores():
    """One rule spreads small input: ``defaultParallelism`` appears in
    the package only inside :func:`staging.spread_small_input`, and
    every other ``repartition(`` has its own stated reason."""
    pkg = pathlib.Path(staging.__file__).parent.parent
    helper = inspect.getsource(staging.spread_small_input)
    uses = {
        str(p.relative_to(pkg)): p.read_text().count("defaultParallelism")
        for p in pkg.rglob("*.py")
    }
    assert {f: n for f, n in uses.items() if n} == {
        "operators/staging.py": helper.count("defaultParallelism")
    }
    allowed = {
        "operators/staging.py": (1, "the small-input rule itself"),
        "sources/kinesis_wire.py": (1, "one fetch task per shard"),
        "sources/kafka_wire.py": (1, "one fetch task per partition offset range"),
        "sources/snapshots.py": (1, "compaction sets the output file count"),
        "queries/streaming_q.py": (3, "the landing dir gets 8 files for the stream to pick up"),
    }
    found = {
        str(p.relative_to(pkg)): len(re.findall(r"\.repartition\(", p.read_text()))
        for p in pkg.rglob("*.py")
    }
    assert {f: n for f, n in found.items() if n} == {f: n for f, (n, _) in allowed.items()}

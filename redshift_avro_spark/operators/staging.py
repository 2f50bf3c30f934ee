"""Staging: the one module that cuts lineage, releases staged
generations, memoizes per-corpus frames and spreads small input.

:func:`materialize` cuts the lineage of a frame that several consumers
read (or that a loop rebuilds each round), so its upstream plan runs
once. Each site passes a LABEL and a default mode:

``parquet``
    Write/read a temp parquet dir. Survives executor loss (blocks live
    in the filesystem): the default for corpus-scale frames.
``checkpoint``
    ``localCheckpoint`` into executor storage. Cheapest, but a lost
    executor loses its blocks and the job fails: the default for
    small-index and candidate-sliver frames and for loop state.
``none``
    No boundary: recompute per consumer.

``SPARK_GRAFT_MATERIALIZE_<LABEL>`` (upper-cased label) overrides one
site, then ``SPARK_GRAFT_MATERIALIZE`` all of them. Values are the same
under every mode. SCALING.md's "Materialization boundaries" lists the
labels, their defaults and the measurements behind them.

Each staged frame is a generation of its label. Per label the newest
``_GENERATIONS_PER_LABEL`` stay staged; an older one is evicted with a
warning, since a consumer still holding it would fail with
FileNotFoundException / CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (the cap sits
well above the widest real liveness window: a composite holds at most
~7 same-label member frames). Loops instead :func:`release` each
generation they supersede, quietly, so any round count keeps one or two
staged.

:func:`memoized` builds a frame several queries share (a trained model,
an encoded corpus) once per (label, Spark application, corpus dir),
keeping the newest ``_MEMO_CORPORA_PER_LABEL`` corpora per label.

:func:`spread_small_input` is the one rule that spreads a frame read
from a few small files across the cores before a CPU-heavy stage.
"""

from __future__ import annotations

import atexit
import logging
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame

__all__ = ["materialize", "release", "memoized", "resolve_mode", "spread_small_input", "MODES"]

MODES = ("checkpoint", "parquet", "none")

_LOG = logging.getLogger(__name__)

_GENERATIONS_PER_LABEL = 16
_MEMO_CORPORA_PER_LABEL = 4
# label -> [(staged frame, parquet dir or None for a checkpoint)], oldest first
_GENERATIONS: dict = {}
# label -> {(applicationId, abspath(sf_dir)): built value}, oldest first
_MEMO: dict = {}
_INVOCATION_COUNTER = 0


def _unpersist_checkpoint(df: DataFrame) -> None:
    """Drop the executor-storage blocks behind a checkpointed frame (the
    LogicalRDD at its plan root). Best-effort: plan-shape drift across
    Spark versions degrades to keeping the blocks, never to a wrong
    answer."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # pragma: no cover - defensive, version drift
        _LOG.debug("checkpoint unpersist navigation failed", exc_info=True)


def _drop(frame: DataFrame, path: str | None) -> None:
    if path is None:
        _unpersist_checkpoint(frame)
    else:
        shutil.rmtree(path, ignore_errors=True)


@atexit.register
def _drop_parquet_generations() -> None:
    for gens in _GENERATIONS.values():
        for _, path in gens:
            if path is not None:
                shutil.rmtree(path, ignore_errors=True)


def resolve_mode(label: str, default: str) -> str:
    """Resolve the materialization mode for a labeled site: per-site
    env > global env > the site default. Unknown values fall back to
    the default."""
    if default not in MODES:
        raise ValueError(f"materialize: unknown default mode {default!r}")
    key = "SPARK_GRAFT_MATERIALIZE_" + re.sub(r"[^A-Za-z0-9]+", "_", label).upper()
    for candidate in (os.environ.get(key), os.environ.get("SPARK_GRAFT_MATERIALIZE")):
        if candidate in MODES:
            return candidate
    return default


def materialize(df: DataFrame, *, label: str, default: str = "checkpoint") -> DataFrame:
    """Cut the lineage of ``df`` under the site's resolved mode (see
    the module docstring) and track the result as a generation of
    ``label``. Both staging modes write at once."""
    mode = resolve_mode(label, default)
    if mode == "none":
        return df
    path = None
    if mode == "parquet":
        # One dir per INVOCATION: composite members share labels, and a
        # later member overwriting a shared path would delete part files
        # an earlier member's lazy read already listed.
        global _INVOCATION_COUNTER
        spark = df.sparkSession
        _INVOCATION_COUNTER += 1
        path = os.path.join(
            tempfile.gettempdir(),
            f"stage_{re.sub(r'[^A-Za-z0-9._-]+', '_', label)}"
            f"_{spark.sparkContext.applicationId}_{_INVOCATION_COUNTER}",
        )
        # Writer defaults on purpose: every staged frame lands as one
        # part file at sf0.1 (AQE coalescing), and a snappy / zstd / lz4
        # / uncompressed A/B on the largest one (q49 survivors) was flat
        # (1.502/1.515/1.515/1.547 s best-of-5).
        df.write.mode("overwrite").parquet(path)
        staged = spark.read.parquet(path)
    else:
        staged = df.localCheckpoint()
    gens = _GENERATIONS.setdefault(label, [])
    gens.append((staged, path))
    while len(gens) > _GENERATIONS_PER_LABEL:
        old, old_path = gens.pop(0)
        _LOG.warning(
            "materialize[%s]: evicting staged generation %s (> %d newer "
            "generations exist); a FileNotFoundException or CHECKPOINT_RDD_"
            "BLOCK_ID_NOT_FOUND after this warning means a consumer outlived "
            "the liveness window — raise _GENERATIONS_PER_LABEL",
            label,
            old_path or "(checkpoint)",
            _GENERATIONS_PER_LABEL,
        )
        _drop(old, old_path)
    return staged


def release(df: DataFrame | None) -> None:
    """Drop a staged generation its caller has superseded: delete its
    parquet dir or unpersist its checkpoint blocks, quietly. Call it
    only once nothing will read ``df`` again, i.e. every frame computed
    from it is itself staged. A frame :func:`materialize` did not stage
    (mode ``none``, or never staged) is left alone."""
    for gens in _GENERATIONS.values():
        for i, (frame, path) in enumerate(gens):
            if frame is df:
                del gens[i]
                _drop(frame, path)
                return


def memoized(label: str, spark, sf_dir: str, build):
    """``build()``'s result, built once per (label, Spark application,
    abspath(sf_dir)) and shared by every later caller; the newest
    ``_MEMO_CORPORA_PER_LABEL`` corpora are kept per label, well inside
    a memoized staged frame's generation window."""
    memo = _MEMO.setdefault(label, {})
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    if key not in memo:
        memo[key] = build()
        while len(memo) > _MEMO_CORPORA_PER_LABEL:
            memo.pop(next(iter(memo)))
    return memo[key]


def spread_small_input(df: DataFrame, *keys: str) -> DataFrame:
    """``df`` repartitioned to ``max(2, defaultParallelism // 2)``
    tasks (hashed on ``keys``, round-robin without them) when it reads
    fewer files than that; otherwise ``df`` itself.

    A CPU-heavy stage (an Avro codec's Arrow hops, md5 windows, regex
    features) over one small file split runs on one core; spreading it
    costs one shuffle of the input. Multi-file input already has
    right-sized scan tasks and keeps its partitioning, so no shuffle is
    added at scale. cores/2 measured best for the minhash signature
    stage at sf0.1 (0.36 s against 0.42 s at cores×2). The codec
    stages want fewer, larger tasks (q20 at sf0.1: 8 tasks 1.29 s
    against 32 tasks 1.70 s); on 4 cores cores/2 gives them the same 2
    tasks, and cores/2 there on more cores is unmeasured.

    The probe is ``inputFiles()``: ~10-20 ms on the driver and no Spark
    job. ``rdd.getNumPartitions()`` runs an aggregated or joined frame's
    shuffle stages under AQE. A frame not rooted in files (a
    checkpoint, local rows) reports no files and is spread."""
    target = max(2, df.sparkSession.sparkContext.defaultParallelism // 2)
    if len(df.inputFiles()) >= target:
        return df
    return df.repartition(target, *keys)

"""Staging: the one module that cuts lineage, releases staged
generations and memoizes per-corpus frames.

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
    ``eager=False`` defers the write to the next action that reads the
    frame (only the BPE corpus: ``operators.bpe.stage_corpus``).
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
"""

from __future__ import annotations

import atexit
import logging
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame

__all__ = ["materialize", "release", "memoized", "resolve_mode", "MODES"]

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


def materialize(
    df: DataFrame, *, label: str, default: str = "checkpoint", eager: bool = True
) -> DataFrame:
    """Cut the lineage of ``df`` under the site's resolved mode (see
    the module docstring) and track the result as a generation of
    ``label``. ``eager`` only matters in checkpoint mode; a parquet
    stage is always written at once."""
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
        staged = df.localCheckpoint(eager=eager)
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

"""Shared iteration harness for iterative graph algorithms.

The reference repeats the same loop skeleton in Pregel, TwoPhase,
AggregateNeighbors, MIS and RandomizedContraction
(/root/reference/core/src/main/scala/org/graphframes/lib/Pregel.scala:392-545,
lib/TwoPhase.scala:236-304, lib/mixins.scala:28-121): persist the current
round, unpersist the previous one, checkpoint every N iterations so the
lineage/plan doesn't grow without bound. This module centralizes that
skeleton so no algorithm can forget it — forgetting checkpointing is the
#1 scale killer for iterative DataFrame programs (driver hangs analyzing
exponentially-grown plans).
"""

from __future__ import annotations

from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

def shuffle_partitions(spark: SparkSession, default: int = 200) -> int:
    """Current ``spark.sql.shuffle.partitions`` as an int, tolerant of
    non-numeric platform values (some managed runtimes set it to
    ``"auto"``); falls back to ``defaultParallelism`` then ``default``."""
    try:
        return max(int(spark.conf.get("spark.sql.shuffle.partitions", str(default))), 1)
    except (ValueError, TypeError):
        try:
            return max(int(spark.sparkContext.defaultParallelism), 1)
        except Exception:
            return max(default, 1)


def ensure_checkpoint_dir(spark: SparkSession) -> None:
    """Set the reliable checkpoint dir from conf if unset (the reference's
    Spark-Connect workaround, Pregel.scala:431-439).

    Raises when neither the SparkContext checkpoint dir nor the
    ``spark.checkpoint.dir`` conf is set: a driver-invented local path
    would be unreadable by executors on a multi-node cluster (the
    reference raises IOException here, MaximalIndependentSet.scala:89-100).
    """
    from graphframes_spark.util import GraphFramesError

    try:
        sc = spark.sparkContext
    except Exception:
        return  # Spark Connect: rely on spark.checkpoint.dir conf server-side
    if sc.getCheckpointDir() is None:
        conf_dir = spark.conf.get("spark.checkpoint.dir", None)
        if conf_dir is not None:
            sc.setCheckpointDir(conf_dir)
        else:
            raise GraphFramesError(
                "Checkpoint directory is not set. Set it with "
                "sc.setCheckpointDir(...) or the conf 'spark.checkpoint.dir', "
                "or use local checkpoints (use_local_checkpoints=True)."
            )


class IterationHarness:
    """Persist-queue + checkpoint policy for a driver-side iteration loop.

    Usage::

        h = IterationHarness(spark, checkpoint_interval=2)
        state = h.persist(initial_state)
        for i in h.iterations(max_iter):
            new_state = step(state)
            state = h.commit(new_state)       # persist/checkpoint + rotate
            if converged:
                break
        result = h.finish(state)              # materialize + cleanup
    """

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_interval: int = 2,
        use_local_checkpoints: Optional[bool] = None,
        storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER,
    ) -> None:
        self.spark = spark
        self.checkpoint_interval = checkpoint_interval
        if use_local_checkpoints is None:
            # honor the reference's session conf (GraphFramesConf.scala:9-19);
            # unset defaults to local checkpoints (no checkpoint dir needed),
            # documented deviation from the reference's "false"
            try:
                conf = spark.conf.get("spark.graphframes.useLocalCheckpoints", None)
            except Exception:
                conf = None
            use_local_checkpoints = True if conf is None else conf.lower() == "true"
        self.use_local_checkpoints = use_local_checkpoints
        self.storage_level = storage_level
        self._current: list[DataFrame] = []
        self._previous: list[DataFrame] = []
        self._pinned: list[DataFrame] = []
        self.iteration = 0
        if checkpoint_interval > 0 and not use_local_checkpoints:
            ensure_checkpoint_dir(spark)

    # ------------------------------------------------------------- lifecycle

    def iterations(self, max_iter: int) -> Iterator[int]:
        for i in range(1, max_iter + 1):
            self.iteration = i
            yield i

    def pin(self, df: DataFrame) -> DataFrame:
        """Persist for the whole loop (e.g. the pre-shaped edge relation)."""
        df = df.persist(self.storage_level)
        self._pinned.append(df)
        return df

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist(self.storage_level)
        self._current.append(df)
        return df

    def checkpoint(self, df: DataFrame, eager: bool = False) -> DataFrame:
        if self.use_local_checkpoints:
            return df.localCheckpoint(eager=eager)
        # also for checkpoint_interval=0, whose constructor skips it
        ensure_checkpoint_dir(self.spark)
        return df.checkpoint(eager=eager)

    def commit(
        self, df: DataFrame, materialize: bool = False, cache: bool = True
    ) -> DataFrame:
        """End-of-iteration: persist or checkpoint the new state (cutting
        lineage every ``checkpoint_interval`` rounds), then drop the
        previous round's cached data.

        Checkpoints are always EAGER (Spark's and the reference's own
        default). A lazy local checkpoint is a driver-side trap measured
        1.4-3x slower end-to-end at sf0.1: ``Dataset.checkpoint`` runs
        full Catalyst planning (``toRdd``) immediately whether or not it
        materializes, and without the materialization the plans later
        supersteps build on are never truncated, so per-superstep
        planning cost grows without bound (13s/superstep by iteration 10
        of plain PageRank when checkpoints were deferred entirely).

        With ``materialize=True`` the plan additionally executes once on
        non-checkpoint rounds via ``count()`` so ``df.observe(...)``
        metrics attached by the caller are collected (the eager
        checkpoint's internal action already collects them on checkpoint
        rounds)."""
        should_ckpt = (
            self.checkpoint_interval > 0
            and self.iteration % self.checkpoint_interval == 0
        )
        if should_ckpt:
            df = self.checkpoint(df, eager=True)
            self._current.append(df)
        else:
            # ``cache=False`` (fused iteration, no per-round actions):
            # the round's output feeds exactly one consumer inside one
            # job, so persisting it would only break pipelined execution
            if cache:
                df = self.persist(df)
            if materialize:
                df.count()
        self.rotate()
        return df

    def rotate(self) -> None:
        """Unpersist the previous round; current becomes previous."""
        for df in self._previous:
            df.unpersist()
        self._previous = self._current
        self._current = []

    def release(self, keep: Optional[DataFrame] = None) -> None:
        """Unpersist every tracked frame except ``keep``, which a plan
        returned lazily still reads."""
        for df in self._previous + self._current + self._pinned:
            if df is not keep:
                df.unpersist()
        self._previous = []
        self._current = []
        self._pinned = []

    def finish(self, result: DataFrame, materialize: bool = True) -> DataFrame:
        result = result.persist(self.storage_level)
        if materialize:
            result.count()
        self.release()
        return result

"""The one mechanism behind the micro-batch state monitors (§2e).

The reference keeps every per-key running statistic the same way: one
bucket per slide, merged on emit (`jobs/activeposts/
PostStatisticsFunction.scala:20-150`). Here that mechanism is
`GridMonitor`: a bounded state DataFrame on the driver, merged with
each micro-batch's delta inside `foreachBatch` and lineage-cut with
`localCheckpoint`. A monitor declares

- ``SCHEMA``: the state's DDL;
- ``KEYS`` and ``MERGE``: the state's grouping keys and one merge
  aggregate per value column (``"sum"``/``"max"``); an empty
  ``MERGE`` means the state is a set and merges by ``distinct``;
- ``delta(batch)``: the batch's own aggregate in the state's shape,
  built from the SAME column expressions the registered batch query
  uses;
- its serving tail: the batch query's own function, run over
  ``state``.

The default merge is ``state ∪ delta`` grouped by ``KEYS`` — the batch
query's grouping semantics, NULL keys included: a NULL key is one
group and a sum over only NULL values stays NULL, so a replayed log
reproduces the batch table exactly (the batch==stream pins).

Monitors whose merge is not a keyed aggregate (top-k prunes, the SCD2
tail recompute, append-only ledgers) override ``merge`` or ``update``
and still commit through ``_commit``. Extra persisted attributes —
further frames or a nested monitor — are named in ``EXTRA``; save,
load and erasure cover them too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.streaming.sources import foreach_batch_sink

RUN_TIMEOUT_S = 300


class GridMonitor:
    """Bounded driver-side state merged once per micro-batch."""

    SCHEMA: str = ""
    KEYS: tuple[str, ...] = ()
    MERGE: dict[str, str] = {}
    # the column erasure deletes by; None = no user-keyed state
    USER_KEY: str | None = None
    EXTRA: tuple[str, ...] = ()
    # position of the path among load()'s positional arguments; the
    # others go to the constructor
    LOAD_PATH_ARG = -1
    # Long-run hygiene: every merge unions state with a delta, so the
    # checkpointed state's partition count creeps up batch over batch.
    # Above the cap it is compacted back to COMPACT_TO partitions
    # hashed on the keys before the checkpoint — one bounded shuffle
    # every ~cap/shuffle_partitions batches.
    COMPACT_PARTITION_CAP = 64
    COMPACT_TO = 8

    def __init__(self, spark) -> None:
        self.spark = spark
        self.state: DataFrame = spark.createDataFrame([], self.SCHEMA)
        self.n_batches = 0
        self.n_compactions = 0

    def delta(self, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def merge(self, delta: DataFrame) -> DataFrame:
        both = self.state.unionByName(delta)
        if not self.MERGE:
            return both.distinct()
        return both.groupBy(*self.KEYS).agg(
            *[getattr(F, fn)(c).alias(c) for c, fn in self.MERGE.items()]
        )

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        self._commit(self.merge(self.delta(batch_df)))

    def _checkpoint(self, df: DataFrame) -> DataFrame:
        if df.rdd.getNumPartitions() > self.COMPACT_PARTITION_CAP:
            keys = [k for k in self.KEYS if k in df.columns]
            df = df.repartition(self.COMPACT_TO, *(keys or df.columns[:1]))
            self.n_compactions += 1
        return df.localCheckpoint(eager=True)

    def _commit(self, state: DataFrame) -> None:
        self.state = self._checkpoint(state)
        self.n_batches += 1

    def _parts(self) -> dict[str, object]:
        return {n: getattr(self, n) for n in ("state", *self.EXTRA)}

    def save(self, path: str) -> None:
        """Persist the state for driver-restart durability: the
        in-memory localCheckpoint dies with the driver. Paired with
        the stream's checkpointLocation, a restarted query resumes
        from the next unprocessed batch AND the reloaded state
        (restart==uninterrupted pins)."""
        for name, part in self._parts().items():
            if isinstance(part, GridMonitor):
                part.save(f"{path}/{name}")
            else:
                part.write.mode("overwrite").parquet(f"{path}/{name}")

    def _restore(self, path: str) -> None:
        for name, part in self._parts().items():
            if isinstance(part, GridMonitor):
                part._restore(f"{path}/{name}")
            else:
                df = self.spark.read.parquet(f"{path}/{name}")
                df = df.select(*part.columns).localCheckpoint(eager=True)
                setattr(self, name, df)

    @classmethod
    def load(cls, spark, *args, **kw):
        """`cls(spark, *args, **kw)` with the state saved at the path
        argument, e.g. ``PsiMonitor.load(spark, split_us, path)``."""
        args = list(args)
        path = args.pop(cls.LOAD_PATH_ARG)
        mon = cls(spark, *args, **kw)
        mon._restore(path)
        return mon

    def erase_users(self, user_ids) -> None:
        """GDPR erasure: drop the subjects' rows from every frame that
        carries USER_KEY (nested monitors erase their own). If a
        subject reappears, their statistics restart from scratch.

        With ``USER_KEY is None`` this is a documented no-op: the state
        holds aggregates with no per-user attribution, so there is
        nothing subject-linked to delete; erasure happens upstream on
        the retained event log."""
        ids = [int(u) for u in user_ids]
        if self.USER_KEY is None or not ids:
            return
        key = F.col(self.USER_KEY)
        for name, part in self._parts().items():
            if isinstance(part, GridMonitor):
                part.erase_users(ids)
            elif self.USER_KEY in part.columns:
                # NULL-safe: ~isin() is NULL for a NULL key, which
                # would silently erase all null-keyed state too
                kept = part.where(~key.isin(ids) | key.isNull())
                setattr(self, name, kept.localCheckpoint(eager=True))


def run_monitor(source: DataFrame, monitor, checkpoint: str):
    """Drive a bounded stream into `monitor.update` to completion
    (availableNow); returns the monitor. A timed-out stream fails
    loudly: a silently partial state would surface later as a
    confusing batch/stream mismatch."""
    q = foreach_batch_sink(source, monitor.update, checkpoint)
    if not q.awaitTermination(RUN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"{type(monitor).__name__} stream did not finish within "
            f"{RUN_TIMEOUT_S}s"
        )
    return monitor

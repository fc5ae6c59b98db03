"""Streaming ALS fold-in serving (§2e; the continuous form of
`operators/mlmodels.als_implicit_recs`, #142).

The production shape for a factorization recommender: the expensive
alternating fit runs in batch (model training), while the stream
handles *fold-in* — new or newly-active users get a factor vector by
solving their single ridge system against the FROZEN item factors
(Hu et al. 2008 §4: one user's solve only needs Y, YtY and that
user's own interactions; it touches no other user). FAISS-style
add-after-train for matrix factorization, and the model-serving twin
of the incremental IVF maintenance operator (#87).

Per micro-batch: interaction deltas are merged into the running
per-(user, item) count table (additive merge, the RfmMaintainer
pattern), then ONLY the users present in the batch are re-solved —
each re-solve is the same `_solve_side` the distributed batch fit
uses, so streamed factors are pinned EQUAL to a batch solve over the
same accumulated interactions (test_streaming_als).

State is bounded by (active users x touched items), not event
volume; the frozen item-factor frame and its k x k Gramian are
computed once at construction. GDPR erasure drops the subject's
interaction counts AND folded-in factor row (both carry custkey).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mvrs_dspa_spark.operators.mlmodels import (
    ALS_K,
    ALS_REC_N,
    _gramian,
    _solve_side,
)
from mvrs_dspa_spark.streaming.monitor import GridMonitor


class AlsFoldInServer(GridMonitor):
    """Folds new users into a frozen item-factor model, one ridge
    solve per affected user per batch; serves top-N unseen items.
    `state` is the per-(user, item) interaction count table."""

    SCHEMA = "custkey long, partkey long, cnt long"
    KEYS = ("custkey", "partkey")
    MERGE = {"cnt": "sum"}
    USER_KEY = "custkey"
    EXTRA = ("factors",)
    COMPACT_TO = 16

    def __init__(self, spark, item_factors: DataFrame) -> None:
        super().__init__(spark)
        # frozen model: localCheckpoint so every batch reuses the
        # materialized factors instead of re-running their lineage;
        # the k x k Gramian is likewise computed ONCE here (the batch
        # fit collects it per half-step; a frozen model never changes)
        self.items = item_factors.localCheckpoint(eager=True)
        self.items_yty = _gramian(self.items)
        self.factors: DataFrame = spark.createDataFrame(
            [], "custkey long, fac array<double>"
        )

    def delta(self, batch_df: DataFrame) -> DataFrame:
        """batch_df: (custkey, partkey) interaction events."""
        return batch_df.groupBy(*self.KEYS).agg(
            F.count(F.lit(1)).alias("cnt")
        )

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = self.delta(batch_df)
        self._commit(self.merge(delta))
        touched = delta.select("custkey").distinct()
        solved = _solve_side(
            self.state.join(F.broadcast(touched), "custkey"),
            self.items,
            "custkey",
            "partkey",
            self.items_yty,
        )
        kept = self.factors.join(touched, "custkey", "left_anti")
        self.factors = self._checkpoint(kept.unionByName(solved))

    def recommend(self, n: int = ALS_REC_N) -> DataFrame:
        """Top-n unseen items for every folded-in user (the batch
        query's serving join, over the maintained factor table)."""
        dot = F.lit(0.0)
        for d in range(ALS_K):
            dot = dot + F.element_at("ufac", d + 1) * F.element_at(
                "vfac", d + 1
            )
        scored = (
            F.broadcast(self.factors.withColumnRenamed("fac", "ufac"))
            .crossJoin(self.items.withColumnRenamed("fac", "vfac"))
            .select("custkey", "partkey", F.round(dot, 6).alias("score"))
        )
        unseen = scored.join(
            self.state.select("custkey", "partkey"),
            ["custkey", "partkey"],
            "left_anti",
        )
        w = Window.partitionBy("custkey").orderBy(
            F.desc("score"), F.asc("partkey")
        )
        return (
            unseen.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= n)
            .select("custkey", "partkey", "rank", "score")
            .orderBy("custkey", "rank")
        )

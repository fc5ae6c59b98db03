"""Streaming temporal (point-in-time) join — the continuous form of
`plans/analytics2.point_in_time_state_join` (#118), i.e. Flink's
temporal table join deployed over the maintained SCD2 dimension
(`scd2_stream.Scd2Maintainer`, 29y).

Per micro-batch: first the SCD2 maintainer applies the batch (so
intra-batch state transitions exist as version rows — enriching
against the PRE-update history would miss a click→purchase flip
inside one batch and diverge from batch semantics), then the batch's
events are joined against the post-update history on user_id with the
interval check (valid_from < ts <= valid_to, open row unbounded) as a
residual. Because replay is time-ordered, versions appended by LATER
batches can never satisfy valid_from < ts for an already-enriched
event, and closing an open interval only shrinks valid_to down to
some later batch's first change — still >= ts for every event it
covered — so per-batch enrichment equals the batch operator exactly
(the equality pytest pins it).

At cluster scale the history side is a user_id-bucketed dimension
table (Delta/Iceberg) and the per-batch join is the standard
stream-table temporal join shape; here both sides live as DataFrames
with the same compaction hygiene as the other maintainers. GDPR
erasure covers BOTH maintained states: the SCD2 dimension rows and
the enriched event ledger of the requested subjects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.streaming.monitor import GridMonitor
from mvrs_dspa_spark.streaming.scd2_stream import Scd2Maintainer


class TemporalJoinMaintainer(GridMonitor):
    """Maintains the SCD2 dimension (`scd2`) AND the temporally-
    enriched event ledger (`state`) across micro-batches."""

    SCHEMA = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, prior_state string"
    )
    KEYS = ("user_id",)
    USER_KEY = "user_id"
    EXTRA = ("scd2",)
    COMPACT_TO = 16

    def __init__(self, spark) -> None:
        super().__init__(spark)
        self.scd2 = Scd2Maintainer(spark)

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        self.scd2.update(batch_df, batch_id)
        hist = self.scd2.state.select(
            F.col("user_id").alias("h_user_id"),
            F.col("state").alias("prior_state"),
            "valid_from",
            "valid_to",
        )
        enriched = batch_df.join(
            hist,
            (batch_df["user_id"] == hist["h_user_id"])
            & (hist["valid_from"] < batch_df["ts"])
            & (hist["valid_to"].isNull() | (batch_df["ts"] <= hist["valid_to"])),
            "left",
        ).select(
            "event_id",
            "ts",
            "user_id",
            "event_type",
            "value",
            F.coalesce("prior_state", F.lit("none")).alias("prior_state"),
        )
        self._commit(self.state.unionByName(enriched))

    def rollup(self) -> DataFrame:
        """The (prior_state x event_type) summary in the batch
        operator's shape, served from the accumulated ledger."""
        return (
            self.state.groupBy("prior_state", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .orderBy("prior_state", "event_type")
        )

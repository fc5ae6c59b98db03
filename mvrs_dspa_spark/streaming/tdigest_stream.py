"""Streaming t-digest quantile maintenance (§2e 29aq; the continuous
form of `operators/sketches.tdigest_value_quantiles`, #116).

The r10 rank-bucket digest's sufficient statistic is the
(event_type, cents, cnt) count grid — the SAME value-domain-bounded
additive state shape the W1/PSI/CUSUM monitors maintain (cents coded
through the shared `w1_cents_col`). Per micro-batch, events bucket
into (type, cents) count deltas and merge additively; `report()`
serves the quantile table through the SHARED `tdigest_from_grid`
tail, so a replayed event log reproduces the registered batch
query's digest BIT-FOR-BIT (batch==stream pytest pin — exactness
survives because every grid count is an integer and the serving math
is the batch query's own engine-exact pipeline). State is bounded by
the distinct cent values seen per type, never by event volume, and
the additive merge is commutative/associative, so reports are
replay-order independent with no watermark or eviction. The grid
keys on (type, cents) only, so erasure is the base's documented
no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.operators.sketches import tdigest_from_grid
from mvrs_dspa_spark.plans.analytics4 import w1_cents_col
from mvrs_dspa_spark.streaming.monitor import GridMonitor


class TDigestMonitor(GridMonitor):
    """Accumulates the (type, cents) count grid across micro-batches;
    `report()` serves the quantile table in the batch query's exact
    shape."""

    SCHEMA = "event_type string, cents long, cnt long"
    KEYS = ("event_type", "cents")
    MERGE = {"cnt": "sum"}

    def delta(self, batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(
            "event_type", w1_cents_col().alias("cents")
        ).agg(F.count(F.lit(1)).alias("cnt"))

    def report(self) -> DataFrame:
        """Per-type quantile table through the SAME serving tail the
        batch query uses, from the maintained value-domain-bounded
        grid."""
        return tdigest_from_grid(self.state)

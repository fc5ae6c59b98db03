"""Streaming Poisson-bootstrap CI monitor (§2e 29an; the continuous
form of `plans/analytics5.bootstrap_mean_ci`, #194).

Row-independence is the entire point of the Poisson bootstrap, and it
pays twice on a stream: the per-(type, replicate) weighted sums are
pure functions of each row's event_id, so they are ADDITIVE across
micro-batches — state is B x types rows no matter the volume — and a
replayed log reproduces the batch CI table EXACTLY through the SHARED
`bootstrap_ci_from_reps` tail (batch==stream pin). The uncertainty-
quantification member of the continuous monitoring family (point
drift: PSI/W1/KS; tests: SPRT/rank; this: CI width). Replicate sums
aggregate over events with no per-user state, so erasure is the
base's documented no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mvrs_dspa_spark.plans.analytics5 import (
    bootstrap_ci_from_reps,
    bootstrap_rep_sums,
)
from mvrs_dspa_spark.streaming.monitor import GridMonitor


class BootstrapMonitor(GridMonitor):
    """Maintains the additive per-(type, replicate) weighted sums
    across micro-batches; `report()` serves the CI table."""

    SCHEMA = (
        "event_type string, b int, swx decimal(38,0), sw long, "
        "n long, sx decimal(38,0)"
    )
    KEYS = ("event_type", "b")
    MERGE = {"swx": "sum", "sw": "sum", "n": "sum", "sx": "sum"}

    def delta(self, batch_df: DataFrame) -> DataFrame:
        return bootstrap_rep_sums(batch_df)

    def report(self) -> DataFrame:
        """The CI table through the SAME serving tail as #194."""
        return bootstrap_ci_from_reps(self.state)

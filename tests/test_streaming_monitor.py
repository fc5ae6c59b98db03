"""The shared micro-batch monitor mechanism (`streaming/monitor.py`).

Two contracts every `GridMonitor` inherits from the base:
- the merge is the batch query's own grouping, NULL keys and NULL
  values included: a state built from two micro-batches equals the
  batch aggregate over the same rows;
- save -> load restores the state exactly.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mvrs_dspa_spark.operators.mlmodels import ALS_K

# every monitor module is imported, so GridMonitor.__subclasses__()
# lists all of them
from mvrs_dspa_spark.streaming.als_stream import AlsFoldInServer
from mvrs_dspa_spark.streaming.ann_maintenance_stream import (
    AnnMaintenanceMonitor,
)
from mvrs_dspa_spark.streaming.bloom_stream import BloomMonitor
from mvrs_dspa_spark.streaming.bm25_stream import Bm25IndexMaintainer
from mvrs_dspa_spark.streaming.bootstrap_stream import BootstrapMonitor
from mvrs_dspa_spark.streaming.capture_stream import CaptureMonitor
from mvrs_dspa_spark.streaming.cusum_stream import CusumMonitor
from mvrs_dspa_spark.streaming.embdrift_stream import EmbeddingDriftMonitor
from mvrs_dspa_spark.streaming.engagement_stream import EngagementMaintainer
from mvrs_dspa_spark.streaming.markov_stream import MarkovMonitor
from mvrs_dspa_spark.streaming.monitor import GridMonitor
from mvrs_dspa_spark.streaming.psi_stream import PsiMonitor
from mvrs_dspa_spark.streaming.ranktest_stream import RankTestMonitor
from mvrs_dspa_spark.streaming.reservoir_stream import ReservoirMonitor
from mvrs_dspa_spark.streaming.rfm_stream import RfmMaintainer
from mvrs_dspa_spark.streaming.scd2_stream import Scd2Maintainer
from mvrs_dspa_spark.streaming.sprt_stream import SprtMonitor
from mvrs_dspa_spark.streaming.tdigest_stream import TDigestMonitor
from mvrs_dspa_spark.streaming.temporal_join_stream import (
    TemporalJoinMaintainer,
)
from mvrs_dspa_spark.streaming.theta_stream import ThetaMonitor
from mvrs_dspa_spark.streaming.wasserstein_stream import WassersteinMonitor
from mvrs_dspa_spark.tables import table
from tests.test_streaming_als import SF, _frozen_items, _interactions
from tests.test_streaming_ann_maintenance import _trained_cents

EVENTS = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_T0 = dt.datetime(2024, 1, 1)
_T1 = dt.datetime(2024, 1, 3)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, ts, uid, t, v, "{}") for i, (ts, uid, t, v) in enumerate(rows)],
        EVENTS,
    )


def _null_type_batches(spark):
    """Two batches, each with a NULL event_type row."""
    return [
        _events(spark, [(_T0, 1, None, 1.0), (_T0, 2, "view", 2.0)]),
        _events(spark, [(_T1, 3, None, 1.0), (_T1, 4, "click", 3.0)]),
    ]


def _null_user_batches(spark):
    """Two batches, each with a NULL user_id row whose value is NULL."""
    return [
        _events(spark, [(_T0, None, "view", None), (_T0, 1, "click", 2.0)]),
        _events(spark, [(_T1, None, "purchase", None), (_T1, 2, "view", 3.0)]),
    ]


def _null_day_batches(spark):
    """Two batches of NULL-ts events (NULL day key); several users so
    some land in the treatment arm."""
    return [
        _events(spark, [(None, u, "purchase", 1.0) for u in range(1, 9)]),
        _events(spark, [(None, u, "view", 1.0) for u in range(1, 9)]),
    ]


def _null_custkey_batches(spark):
    schema = "custkey long, partkey long"
    return [
        spark.createDataFrame([(None, 1), (1, 1)], schema),
        spark.createDataFrame([(None, 1), (2, 2)], schema),
    ]


def _items(spark):
    return spark.createDataFrame(
        [(p, [0.1 * (d + p) for d in range(ALS_K)]) for p in (1, 2)],
        "partkey long, fac array<double>",
    )


# the six monitors whose merge was once a USING full-outer join, which
# never matches NULL keys and so kept one NULL-key row per batch
NULL_CASES = {
    "rfm": (RfmMaintainer, _null_user_batches),
    "tdigest": (TDigestMonitor, _null_type_batches),
    "psi": (lambda s: PsiMonitor(s, 0), _null_type_batches),
    "wasserstein": (lambda s: WassersteinMonitor(s, 0), _null_type_batches),
    "sprt": (SprtMonitor, _null_day_batches),
    "als": (lambda s: AlsFoldInServer(s, _items(s)), _null_custkey_batches),
}


@pytest.mark.parametrize("name", sorted(NULL_CASES))
def test_merge_keeps_batch_null_semantics(spark, name):
    make, batches = NULL_CASES[name]
    b1, b2 = batches(spark)
    mon = make(spark)
    mon.update(b1, 0)
    mon.update(b2, 1)
    # the batch aggregate over the same rows, in one pass
    want = _rows(make(spark).delta(b1.unionByName(b2)))
    got = _rows(mon.state)
    key = mon.KEYS[0]
    assert any(r[0] is None for r in want), "fixture has no NULL key"
    assert sum(1 for r in got if r[0] is None) == sum(
        1 for r in want if r[0] is None
    ), f"NULL {key} split across batches"
    assert got == want
    if name == "rfm":
        (row,) = mon.state.where(F.col("user_id").isNull()).collect()
        assert row.frequency == 2
        assert row.monetary_sum is None  # SUM over only NULLs, not 0.0


def _event_slices(spark):
    ev = table(spark, SF, "events")
    return [ev.where(F.pmod("event_id", F.lit(40)) == i) for i in (0, 1)]


def _slices(df, col):
    return [df.where(F.pmod(col, F.lit(8)) == i) for i in (0, 1)]


def _round_trip_case(spark, cls):
    """(constructor args, the two batches) for each monitor."""
    if cls in (PsiMonitor, WassersteinMonitor, CaptureMonitor):
        return (0,), _event_slices(spark)
    if cls is EmbeddingDriftMonitor:
        return (), _slices(table(spark, SF, "embeddings"), "vec_id")
    if cls is AnnMaintenanceMonitor:
        emb = table(spark, SF, "embeddings").select("vec_id", "embedding")
        return (_trained_cents(spark),), _slices(emb, "vec_id")
    if cls is Bm25IndexMaintainer:
        return (), _slices(table(spark, SF, "documents"), "doc_id")
    if cls is AlsFoldInServer:
        inter = _interactions(spark).orderBy("event_id").limit(120)
        return (_frozen_items(spark),), _slices(inter, "event_id")
    return (), _event_slices(spark)


def _saved_parts(mon):
    parts = {"state": _rows(mon.state)}
    for name in mon.EXTRA:
        part = getattr(mon, name)
        parts[name] = _rows(part.state if isinstance(part, GridMonitor) else part)
    return parts


@pytest.mark.parametrize(
    "cls", GridMonitor.__subclasses__(), ids=lambda c: c.__name__
)
def test_save_load_round_trip(spark, tmp_path, cls):
    args, (b1, b2) = _round_trip_case(spark, cls)
    mon = cls(spark, *args)
    mon.update(b1, 0)
    mon.update(b2, 1)
    assert mon.n_batches == 2
    path = str(tmp_path / "state")
    mon.save(path)
    if cls is AnnMaintenanceMonitor:  # load(spark, path, cents)
        loaded = cls.load(spark, path, *args)
    else:  # e.g. load(spark, split_us, path)
        loaded = cls.load(spark, *args, path)
    assert mon.state.count() > 0
    assert _saved_parts(loaded) == _saved_parts(mon)

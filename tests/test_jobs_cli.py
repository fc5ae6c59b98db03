"""Standalone job-runner CLI (`python -m mvrs_dspa_spark.jobs`).

The reference ships runnable mains per streaming job; this pins the
Spark-native equivalent end-to-end: a fresh process, an availableNow
file source replayed from sf0.001 events, and real sink output.
"""

from __future__ import annotations

import subprocess
import sys

import pytest

from mvrs_dspa_spark.jobs import JOBS, build_parser

SF = "/root/testdata/sf0.001"


def _run_cli(args: list[str], timeout: int = 420):
    return subprocess.run(
        [sys.executable, "-m", "mvrs_dspa_spark.jobs", *args],
        cwd="/root/repo",
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def test_parser_rejects_unknown_job():
    with pytest.raises(SystemExit):
        build_parser().parse_args(["no_such_job", "--out", "/tmp/x"])


def test_parser_defaults():
    args = build_parser().parse_args(["active_posts", "--out", "/tmp/x"])
    assert args.source == "dir"
    assert args.sink == "parquet"
    assert args.job in JOBS


@pytest.mark.slow  # subprocess Spark session: ~20-45 s each
def test_active_posts_cli_end_to_end(spark, tmp_path):
    out = str(tmp_path / "stats")
    r = _run_cli(
        [
            "active_posts",
            "--events-dir", SF,
            "--out", out,
            "--checkpoint", str(tmp_path / "ckpt"),
            "--limit", "400",
            "--watermark", "1 hour",
        ]
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "active_posts: done" in r.stdout
    res = spark.read.parquet(out)
    assert res.count() > 0
    assert {"window_start", "window_end", "user_id", "n_events"} <= set(
        res.columns
    )


@pytest.mark.slow  # subprocess Spark session: ~20-45 s each
def test_unusual_activity_cli_end_to_end(tmp_path):
    """The streaming k-means job starts from k centroids seeded off the
    lowest-event_id events and drains the replay to completion."""
    r = _run_cli(
        [
            "unusual_activity",
            "--events-dir", SF,
            "--out", str(tmp_path / "unusual"),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--limit", "400",
        ]
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "unusual_activity: done" in r.stdout


@pytest.mark.slow  # subprocess Spark session: ~20-45 s each
def test_recommendations_cli_end_to_end(spark, tmp_path):
    out = str(tmp_path / "recs")
    r = _run_cli(
        [
            "recommendations",
            "--events-dir", SF,
            "--out", out,
            "--checkpoint", str(tmp_path / "ckpt"),
            "--limit", "400",
        ]
    )
    assert r.returncode == 0, r.stderr[-3000:]
    # per-batch idempotent batch_id=N directories with top-N rows
    res = spark.read.option("basePath", out).parquet(out + "/batch_id=*")
    rows = res.collect()
    assert rows, "no recommendations written"
    assert {"user_id", "rec_user_id", "est_sim"} <= set(res.columns)
    for row in rows:
        assert row.user_id != row.rec_user_id


@pytest.mark.slow  # subprocess Spark session: ~20-45 s each
def test_attribution_cli_end_to_end(spark, tmp_path):
    out = str(tmp_path / "attr")
    r = _run_cli(
        [
            "attribution",
            "--events-dir", SF,
            "--out", out,
            "--checkpoint", str(tmp_path / "ckpt"),
            "--limit", "2000",
        ]
    )
    assert r.returncode == 0, r.stderr[-3000:]
    res = spark.read.parquet(out)
    assert {"window_start", "window_end", "n_conversions",
            "conversion_value"} <= set(res.columns)


@pytest.mark.slow  # subprocess Spark session: ~20-45 s each
def test_curation_cli_end_to_end(spark, tmp_path):
    out = str(tmp_path / "curated")
    r = _run_cli(
        [
            "curation",
            "--events-dir", SF,
            "--out", out,
            "--checkpoint", str(tmp_path / "ckpt"),
        ]
    )
    assert r.returncode == 0, r.stderr[-3000:]
    res = spark.read.parquet(out)
    assert res.count() > 0
    assert {"doc_id", "quality_score", "content_key"} <= set(res.columns)


@pytest.mark.slow  # subprocess Spark session: ~20-45 s each
def test_drift_cli_end_to_end(spark, tmp_path):
    """The deployable form of the 29af/29ah monitors: one event stream
    feeds BOTH maintainers; reports land as parquet at shutdown and
    match the registered batch twins exactly (same log, halfway
    split)."""
    out = str(tmp_path / "drift")
    r = _run_cli(
        [
            "drift",
            "--events-dir", SF,
            "--out", out,
            "--checkpoint", str(tmp_path / "ckpt"),
        ]
    )
    assert r.returncode == 0, r.stderr[-3000:]

    from mvrs_dspa_spark.plans.analytics import value_drift_psi
    from mvrs_dspa_spark.plans.analytics4 import value_wasserstein_drift

    got_psi = sorted(
        tuple(row) for row in spark.read.parquet(f"{out}/psi").collect()
    )
    want_psi = sorted(tuple(row) for row in value_drift_psi(spark, SF).collect())
    assert got_psi == want_psi

    got_w1 = sorted(
        tuple(row)
        for row in spark.read.parquet(f"{out}/wasserstein")
        .select("event_type", "n_first_half", "n_second_half", "wasserstein_1")
        .collect()
    )
    want_w1 = sorted(
        tuple(row)
        for row in value_wasserstein_drift(spark, SF)
        .select("event_type", "n_first_half", "n_second_half", "wasserstein_1")
        .collect()
    )
    assert got_w1 == want_w1


@pytest.mark.slow  # subprocess Spark session: ~20-45 s each
def test_drift_cli_restart_continues(spark, tmp_path):
    """--state-dir + --checkpoint: a second invocation over the SAME
    replayed input reprocesses nothing (checkpoint) and keeps the
    loaded state — reports identical to the first run's."""
    out1, out2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    common = [
        "drift",
        "--events-dir", SF,
        "--checkpoint", str(tmp_path / "ckpt"),
        "--state-dir", str(tmp_path / "state"),
        "--limit", "600",
    ]
    r1 = _run_cli([*common, "--out", out1])
    assert r1.returncode == 0, r1.stderr[-3000:]
    r2 = _run_cli([*common, "--out", out2])
    assert r2.returncode == 0, r2.stderr[-3000:]
    a = sorted(tuple(r) for r in spark.read.parquet(f"{out1}/psi").collect())
    b = sorted(tuple(r) for r in spark.read.parquet(f"{out2}/psi").collect())
    assert a and a == b


def _run_query_cli(args, timeout=240):
    return subprocess.run(
        [sys.executable, "-m", "mvrs_dspa_spark.run", *args],
        cwd="/root/repo",
        capture_output=True,
        text=True,
        timeout=timeout,
    )


@pytest.mark.slow  # subprocess Spark session: ~20-45 s each
def test_query_runner_list_and_execute(spark, tmp_path):
    r = _run_query_cli(["--list", "--tag", "sketch"])
    assert r.returncode == 0, r.stderr[-2000:]
    assert "hll_user_counts" in r.stdout
    assert "cms_heavy_hitters" in r.stdout

    out = str(tmp_path / "q1")
    r = _run_query_cli(
        ["q1_pricing_summary", "--sf-dir", SF, "--out", out, "--explain"]
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "rows ->" in r.stdout
    res = spark.read.parquet(out)
    assert res.count() > 0


def test_query_runner_suggests_near_match():
    r = _run_query_cli(["q1_pricing_sumary"])
    assert r.returncode == 2
    assert "did you mean" in r.stderr
    assert "q1_pricing_summary" in r.stderr

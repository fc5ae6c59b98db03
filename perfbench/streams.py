"""`stream-jobs` workload: the paper's streaming jobs draining a seeded replay.

Each drain is closed loop: the replay slices are written once, before
timing starts (`streaming.replay.write_replay_batches`, the reference's
30 minute random delay, the run's seed as delay seed); then the job is
started over a file stream of the slices (`availableNow`) and awaited
to termination; its wall time and the CPU time of the process tree
(`probe.tree_cpu_s`) are taken over that span. Events are counted
from the slice files themselves, never from Spark's `numInputRows`
(inside `foreachBatch` that counts every action on the batch).

- `active_post_stats_job` (state store) and `unusual_activity_job`
  (driver-held k-means, no state store) take one slice per trigger,
  through `streaming.replay.read_replay_stream`. A cycle drains both;
  `WARM_CYCLES` untimed cycles warm the JVM, then timed cycles run
  until the run's seconds are spent, at least `MIN_CYCLES` of them.
- `recommendations_job` (driver-side item history re-signed every
  trigger) takes `RECS_SLICES_PER_TRIGGER` slices per trigger, into the
  benchmark's own sink. It runs in traced runs only, for its layer
  figures: one traced drain, after the timed cycles. It is kept out of
  the timed cycles because one of its drains takes as long as a whole
  cycle of the other two, its time still halves over the first three
  drains, and on a warm JVM it still swung by 2x between consecutive
  drains. Warming and timing it does not fit one run's budget.

Per-trigger layer metrics come from :class:`probe.ProgressLog` (the
`durationMs` phases and `stateOperators`) and from the status tracker
by the query's run id, which Spark uses as the job group of every job
a trigger starts.
"""

from __future__ import annotations

import datetime
import glob
import math
import os
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import pyarrow.parquet as pq

from probe import ProgressLog, SparkProbe, geomean, median, tail, tree_cpu_s

PHASES = ("addBatch", "queryPlanning", "getBatch", "latestOffset", "walCommit", "commitOffsets")
DRAIN_TIMEOUT_S = 150
WARM_CYCLES = 2
MIN_CYCLES = 3
RECS_SLICES_PER_TRIGGER = 2
KMEANS_INIT = ([0.2, 0.1, 0.2], [0.5, 0.4, 0.5], [1.0, 0.8, 0.8])
WATERMARK = datetime.timedelta(hours=2)  # active_post_stats_job's default


def replay_manifest(out_dir: str) -> list[dict]:
    """Per slice, in emission order: its event count, timestamps and users,
    read from the slice files."""
    out = []
    for path in sorted(glob.glob(os.path.join(out_dir, "batch_*"))):
        t = pq.read_table(path, columns=["ts", "user_id"])
        out.append(
            {
                "events": t.num_rows,
                "ts": t.column("ts").to_pylist(),
                "users": set(t.column("user_id").to_pylist()),
            }
        )
    return out


def out_of_order_share(manifest) -> float:
    """Share of events emitted after a later-timestamped event was."""
    late = total = 0
    seen_max = None
    for s in manifest:
        if seen_max is not None:
            late += sum(1 for t in s["ts"] if t < seen_max)
        total += s["events"]
        if s["ts"] and (seen_max is None or max(s["ts"]) > seen_max):
            seen_max = max(s["ts"])
    return late / total if total else 0.0


class Job:
    """Drains of one streaming job, with its own checks and layer metrics.

    Subclasses define `start(stream, checkpoint, label)`, `check()` and
    `layers()`; `records` keeps one dict per drain."""

    prefix = ""
    slices_per_trigger = 1

    def __init__(self, ctx, replay_dir: str):
        self.ctx, self.replay_dir = ctx, replay_dir
        self.records: list[dict] = []

    def stream(self):
        """File stream over the replay's slices, `slices_per_trigger` a trigger."""
        from mvrs_dspa_spark.streaming.replay import read_replay_stream

        ctx = self.ctx
        if self.slices_per_trigger == 1:
            return read_replay_stream(ctx.spark, self.replay_dir, ctx.events_schema)
        return (
            ctx.spark.readStream.schema(ctx.events_schema)
            .option("maxFilesPerTrigger", str(self.slices_per_trigger))
            .parquet(os.path.join(self.replay_dir, "batch_*"))
        )

    def drain(self, traced: bool, label: str) -> dict | None:
        """Start the query over the replay, await termination, collect its
        progress; returns the drain record, or None when the drain failed."""
        ctx, res = self.ctx, self.ctx.result
        n_slices = len(ctx.manifest)
        n_triggers = -(-n_slices // self.slices_per_trigger)
        stream = self.stream()
        ck = os.path.join(ctx.work, f"ck-{self.prefix}-{label}")
        ctx.inner[(self.prefix, label)] = inner = []
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with ctx.tracer.span("engine.drain") if traced else nullcontext() as dspan:
            try:
                q = self.start(stream, ck, label)
                done = q.awaitTermination(DRAIN_TIMEOUT_S)
                if not done:
                    q.stop()
            except Exception as e:
                res.attempt(n_triggers)
                res.fail(f"{self.prefix} drain {label}: {type(e).__name__}: {e}", n_triggers)
                return None
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        why = None if done else f"timed out after {DRAIN_TIMEOUT_S} s"
        why = why or (str(q.exception()) if q.exception() is not None else None)
        if why:
            res.attempt(n_triggers)
            res.fail(f"{self.prefix} drain {label}: {why}", n_triggers)
            return None
        run_id = str(q.runId)
        expected = len(q.recentProgress)
        deadline = time.perf_counter() + 10
        while len(ctx.progress.for_run(run_id)) < expected and time.perf_counter() < deadline:
            time.sleep(0.05)
        events = ctx.progress.for_run(run_id)
        consumed = [e for e in events if e["consumed"]]
        res.attempt(len(consumed))
        if len(consumed) != n_triggers:
            res.fail(f"{self.prefix} drain {label}: {len(consumed)} triggers, expected {n_triggers}")
        rec = {
            "label": label,
            "traced": traced,
            "inner": inner,
            "wall_s": wall,
            "cpu_s": cpu,
            "triggers": consumed,
            "all_triggers": events,
            "trigger_ms": [e["duration_ms"].get("triggerExecution", 0) for e in consumed],
            "events_per_s": ctx.n_events / wall,
        }
        if traced:
            rec["stats"] = ctx.probe.job_stats(ctx.probe.jobs(run_id))
            _trigger_spans(ctx.tracer, dspan.index, events, inner)
            ctx.roots.append(dspan.index)
        self.records.append(rec)
        return rec

    def plain(self) -> list[dict]:
        return [r for r in self.records if not r["traced"]]

    def traced(self) -> list[dict]:
        return [r for r in self.records if r["traced"]]

    def report(self) -> None:
        """End-to-end figures of this job's untraced drains."""
        recs, p = self.plain(), self.prefix
        trig = [t for r in recs for t in r["trigger_ms"]]
        pct, tl = tail(trig)
        self.ctx.result.report.update(
            {
                f"{p}.events_per_s": (median(r["events_per_s"] for r in recs), "events/s"),
                f"{p}.drain_s": (median(r["wall_s"] for r in recs), "s"),
                f"{p}.trigger_p50_ms": (median(trig), "ms"),
                f"{p}.trigger_tail_ms": (tl, "ms"),
                f"{p}.trigger_tail_pct": (pct, "percentile"),
                f"{p}.trigger_count": (len(trig), "count"),
            }
        )

    def engine_layers(self) -> None:
        """Micro-batch engine metrics of the traced drains."""
        res, recs, p = self.ctx.result, self.traced(), self.prefix
        trig = [t for r in recs for t in r["triggers"]]
        for ph in PHASES:
            res.layer(f"{p}.trigger.{ph}_ms", median(t["duration_ms"].get(ph, 0) for t in trig), "ms")
        add = sum(t["duration_ms"].get("addBatch", 0) for t in trig)
        tot = sum(t["duration_ms"].get("triggerExecution", 0) for t in trig)
        res.layer(f"{p}.trigger.coordination_share", 1.0 - add / tot if tot else 0.0, "ratio")
        for key in ("jobs", "stages", "tasks"):
            res.layer(f"{p}.trigger.{key}", sum(r["stats"][key] for r in recs) / len(trig), "count")
        res.layer(f"{p}.trigger.p50_ms", median(t["duration_ms"]["triggerExecution"] for t in trig), "ms")
        res.layer(f"{p}.events_per_s", median(r["events_per_s"] for r in recs), "events/s")
        for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            res.report[f"{p}.drain.{key}"] = (median(r["stats"][key] for r in recs), "bytes")


class ActivePosts(Job):
    prefix = "active"

    def __init__(self, ctx, replay_dir):
        super().__init__(ctx, replay_dir)
        self.sinks: dict[str, str] = {}

    def start(self, stream, ck, label):
        from mvrs_dspa_spark.streaming.jobs import active_post_stats_job

        self.sinks[label] = os.path.join(self.ctx.work, f"sink-active-{label}")
        return active_post_stats_job(stream, self.sinks[label], ck)

    def check(self) -> None:
        """Every emitted window equals the same definition run as a batch
        over the replayed events; every batch window that ends before the
        final watermark was emitted; nothing was dropped as late (the
        replay delay is below the watermark)."""
        from mvrs_dspa_spark.streaming.windowed import sliding_stats_stream

        ctx, res = self.ctx, self.ctx.result
        replayed = ctx.spark.read.schema(ctx.events_schema).parquet(
            os.path.join(self.replay_dir, "batch_*")
        )
        batch = {
            (r["window_start"], r["user_id"]): r.asDict()
            for r in sliding_stats_stream(replayed).collect()
        }
        final_wm = max(t for s in ctx.manifest for t in s["ts"]) - WATERMARK
        for rec in self.records:
            label = rec["label"]
            rows = ctx.spark.read.parquet(self.sinks[label]).collect()
            bad = [r for r in rows if batch.get((r["window_start"], r["user_id"])) != r.asDict()]
            if bad:
                res.fail(f"active {label}: {len(bad)} of {len(rows)} windows differ from batch")
            emitted = {(r["window_start"], r["user_id"]) for r in rows}
            missing = [k for k, b in batch.items() if k not in emitted and b["window_end"] < final_wm]
            if missing or not rows:
                res.fail(f"active {label}: {len(missing)} finalized windows not emitted")
            dropped = sum(s["dropped_by_watermark"] for t in rec["all_triggers"] for s in t["state"])
            if dropped:
                res.fail(f"active {label}: {dropped} rows dropped by watermark")

    def layers(self) -> None:
        res = self.ctx.result
        st = [t for r in self.traced() for t in r["all_triggers"]]
        per = [t["state"] for t in st if t["state"]]
        res.layer("state.rows_total", max((sum(s["rows_total"] for s in x) for x in per), default=0), "rows")
        res.layer("state.memory_bytes", max((sum(s["memory_bytes"] for s in x) for x in per), default=0), "bytes")
        res.layer("state.commit_ms", median(sum(s["commit_ms"] for s in x) for x in per), "ms")
        res.layer("state.rows_dropped_by_watermark", sum(s["dropped_by_watermark"] for x in per for s in x), "rows")


class UnusualActivity(Job):
    prefix = "unusual"

    def __init__(self, ctx, replay_dir):
        super().__init__(ctx, replay_dir)
        self.models: dict = {}

    def start(self, stream, ck, label):
        from mvrs_dspa_spark.streaming.jobs import unusual_activity_job
        from mvrs_dspa_spark.streaming.kmeans import StreamingKMeansModel

        model = StreamingKMeansModel(centroids=[list(c) for c in KMEANS_INIT])
        self.models[label] = model
        inner, orig = self.ctx.inner[(self.prefix, label)], model.update

        def timed_update(batch_df, vec_col):
            t0 = time.perf_counter()
            orig(batch_df, vec_col)
            inner.append(("kmeans.update", time.perf_counter() - t0, None))

        model.update = timed_update  # instance attribute: wraps this model only
        return unusual_activity_job(stream, model, ck)

    def check(self) -> None:
        """k live centroids, one model update per non-empty trigger, and
        every event assigned to a cluster in [0, k)."""
        from pyspark.sql import functions as F

        from mvrs_dspa_spark.streaming.jobs import _event_features

        ctx, res, k = self.ctx, self.ctx.result, len(KMEANS_INIT)
        feats = ctx.spark.read.schema(ctx.events_schema).parquet(
            os.path.join(self.replay_dir, "batch_*")
        ).transform(_event_features)
        for rec in self.records:
            label, model = rec["label"], self.models[rec["label"]]
            live = {tuple(c) for c in model.centroids if all(math.isfinite(v) for v in c)}
            if model.k != k or len(live) != k:
                res.fail(f"unusual {label}: {len(live)} live centroids, expected {k}")
            if model.batches_seen != len(rec["triggers"]):
                res.fail(f"unusual {label}: batches_seen {model.batches_seen} "
                         f"!= {len(rec['triggers'])} non-empty triggers")
            lo, hi = model.assign(feats, "features").agg(F.min("cluster"), F.max("cluster")).first()
            if lo is None or lo < 0 or hi >= k:
                res.fail(f"unusual {label}: assignments in [{lo}, {hi}], expected [0, {k})")

    def layers(self) -> None:
        res, tr = self.ctx.result, self.traced()
        res.layer("kmeans.update_s", median(d for r in tr for _, d, _ in r["inner"]), "s")
        res.layer("kmeans.jobs_per_trigger",
                  sum(r["stats"]["jobs"] for r in tr) / sum(len(r["triggers"]) for r in tr), "count")


class Recommendations(Job):
    prefix = "recs"
    slices_per_trigger = RECS_SLICES_PER_TRIGGER

    def __init__(self, ctx, replay_dir):
        super().__init__(ctx, replay_dir)
        self.outputs: dict[str, dict[int, list]] = {}

    def start(self, stream, ck, label):
        from mvrs_dspa_spark.streaming.jobs import recommendations_job

        out, inner = self.outputs.setdefault(label, {}), self.ctx.inner[(self.prefix, label)]

        def sink(df, batch_id):
            t0 = time.perf_counter()
            out[batch_id] = [tuple(r) for r in df.collect()]
            inner.append(("recs.sink", time.perf_counter() - t0, batch_id))

        return recommendations_job(stream, sink, ck)

    def check(self) -> None:
        """The paper's invariants: nobody is recommended to themselves,
        est_sim >= MIN_SIM, at most TOP_N per user per trigger, and only
        users active in the trigger's slice get recommendations."""
        from mvrs_dspa_spark.operators.similarity import MIN_SIM, TOP_N

        res, man, k = self.ctx.result, self.ctx.manifest, self.slices_per_trigger
        for rec in self.records:
            label, per_batch = rec["label"], self.outputs[rec["label"]]
            bad: list[str] = []
            for batch_id, rows in per_batch.items():
                active = set().union(*(s["users"] for s in man[batch_id * k:(batch_id + 1) * k]))
                per_user: dict[int, int] = {}
                for user, rec_user, est in rows:
                    per_user[user] = per_user.get(user, 0) + 1
                    if user == rec_user:
                        bad.append(f"batch {batch_id}: user {user} recommended to itself")
                    if est < MIN_SIM:
                        bad.append(f"batch {batch_id}: est_sim {est} < {MIN_SIM}")
                    if user not in active:
                        bad.append(f"batch {batch_id}: user {user} not active in the batch")
                bad += [f"batch {batch_id}: user {u} has {n} > {TOP_N}"
                        for u, n in per_user.items() if n > TOP_N]
            if not any(per_batch.values()):
                bad.append("no recommendation emitted")
            if bad:
                res.fail(f"recs {label}: {len(bad)} violations; first: {bad[0]}")

    def layers(self) -> None:
        res, tr = self.ctx.result, self.traced()
        sink_s = [{b: d for _, d, b in r["inner"]} for r in tr]
        body = [
            t["duration_ms"].get("addBatch", 0) / 1000.0 - s.get(t["batch_id"], 0.0)
            for s, r in zip(sink_s, tr)
            for t in r["triggers"]
        ]
        res.layer("recs.sink_s", median(d for s in sink_s for d in s.values()), "s")
        res.layer("recs.body_s", median(body), "s")
        growth = []
        for r in tr:
            ms = r["trigger_ms"]
            q = max(1, len(ms) // 4)
            growth.append(median(ms[-q:]) / median(ms[:q]))
        res.layer("recs.trigger_growth", median(growth), "ratio")
        res.layer("recs.rows_out", median(sum(map(len, self.outputs[r["label"]].values())) for r in tr), "rows")


def _trigger_spans(tracer, parent, events, inner) -> None:
    """Synthesize trigger and phase spans from progress durations (the
    phases of one trigger run one after another inside it). `inner` holds
    (name, seconds, batch_id) of benchmark-timed calls made inside
    `addBatch`; batch_id None means the i-th call belongs to the i-th
    trigger that consumed input."""
    by_batch: dict[int, list] = {}
    ordered = [(n, d) for n, d, b in inner if b is None]
    for n, d, b in inner:
        if b is not None:
            by_batch.setdefault(b, []).append((n, d))
    for e in events:
        if e["consumed"] and ordered:
            by_batch.setdefault(e["batch_id"], []).append(ordered.pop(0))
        d = e["duration_ms"]
        t_idx = tracer.add("engine.trigger", 0.0, d.get("triggerExecution", 0) / 1000.0, parent)
        add_idx, add_s, t = None, 0.0, 0.0
        for ph in PHASES:
            dur = d.get(ph, 0) / 1000.0
            idx = tracer.add(f"engine.{ph}", t, t + dur, t_idx)
            if ph == "addBatch":
                add_idx, add_s = idx, dur
            t += dur
        # state-store commit time is summed over tasks; cap it at addBatch
        commit = sum(s["commit_ms"] for s in e["state"]) / 1000.0
        if commit:
            tracer.add("state.commit", 0.0, min(commit, add_s), add_idx)
        for n, dur in by_batch.get(e["batch_id"], []):
            tracer.add(n, 0.0, dur, add_idx)


def run(ctx, n_slices: int) -> None:
    from mvrs_dspa_spark.config import settings
    from mvrs_dspa_spark.streaming.replay import write_replay_batches
    from mvrs_dspa_spark.tables import table

    spark, res = ctx.spark, ctx.result
    events = table(spark, ctx.sf_dir, "events")
    ctx.events_schema = events.schema
    ctx.n_events = ctx.table_rows["events"]
    ctx.progress = ProgressLog()
    spark.streams.addListener(ctx.progress)
    ctx.probe = SparkProbe(spark)

    replay = os.path.join(ctx.work, "replay")
    t0 = time.perf_counter()
    write_replay_batches(
        events,
        replay,
        n_batches=n_slices,
        max_delay_ms=settings.data.random_delay_minutes * 60_000,
        seed=ctx.seed,
    )
    replay_write_s = time.perf_counter() - t0
    ctx.log("replay written")
    man = replay_manifest(replay)
    ctx.manifest = man
    if sum(s["events"] for s in man) != ctx.n_events:
        res.fail(f"replay slices hold {sum(s['events'] for s in man)} events, "
                 f"generated {ctx.n_events}")
    jobs = [ActivePosts(ctx, replay), UnusualActivity(ctx, replay)]
    # untimed warm-up: whole cycles, as timed cycles run them (after one
    # warm-up cycle the next three still fell from 14.8 to 8.9 s; after
    # two, the timed cycles stay within a few percent of each other)
    for k in range(WARM_CYCLES):
        for job in jobs:
            job.drain(False, f"warm-up-{k}")
            job.records.clear()
        ctx.log(f"warm-up cycle {k} drained")

    # drain every job once per cycle until the run's seconds are spent; a
    # traced run alternates untraced and traced cycles, at least
    # untraced-traced-untraced so that warm-up does not pass for tracing
    # overhead
    ctx.start_timing()
    t_start, i = time.perf_counter(), 0
    while True:
        traced = ctx.tracer.enabled and i % 2 == 1
        for job in jobs:
            job.drain(traced, str(i))
        ctx.log(f"cycle {i} drained: " + ", ".join(
            f"{j.prefix} {j.records[-1]['wall_s']:.2f}s" for j in jobs if j.records))
        i += 1
        if time.perf_counter() - t_start >= ctx.seconds and i >= MIN_CYCLES:
            break
    if not all(job.plain() for job in jobs):
        res.fail("a job has no successful untraced drain")
        return

    for job in jobs:
        job.report()
    res.e2e(
        cpu_s=sum(median(r["cpu_s"] for r in job.plain()) for job in jobs),
        op_cpu_ms=geomean(
            median(r["cpu_s"] / len(r["triggers"]) for r in job.plain()) for job in jobs
        ) * 1000.0,
    )
    res.report.update(
        result_s=(sum(median(r["wall_s"] for r in job.plain()) for job in jobs), "s"),
        op_geomean_ms=(geomean(
            median(t for r in job.plain() for t in r["trigger_ms"]) for job in jobs
        ), "ms"),
    )
    checked = list(jobs)  # the timed jobs, and in a traced run also recs
    if ctx.tracer.enabled:
        recs = Recommendations(ctx, replay)
        recs.drain(True, "traced")
        ctx.log("recommendations drained")
        checked.append(recs)
    with ThreadPoolExecutor(len(checked)) as pool:  # output checks, untimed
        list(pool.map(lambda job: job.check(), checked))
    ctx.log("outputs checked")

    if not ctx.tracer.enabled or not all(job.traced() for job in checked):
        return
    res.layer("replay.write_s", replay_write_s, "s")
    res.layer("replay.slices", len(man), "count")
    res.layer("replay.events_per_slice", ctx.n_events / len(man), "events")
    res.layer("replay.out_of_order_share", out_of_order_share(man), "ratio")
    for job in checked:
        job.engine_layers()
        job.layers()
    plain = sum(median(r["wall_s"] for r in job.plain()) for job in jobs)
    traced = sum(median(r["wall_s"] for r in job.traced()) for job in jobs)
    res.layer("trace.overhead_share", (traced - plain) / plain, "ratio")

    # single-core baseline: one drain per job on a local[1] session
    ctx.restart_session(cpus=1)
    ctx.spark.streams.addListener(ctx.progress)
    for job in checked:
        rec = job.drain(False, "single-core")
        if rec is not None:
            job.records.remove(rec)  # kept out of the local[nproc] figures
            res.layer(f"{job.prefix}.single_core_events_per_s", rec["events_per_s"], "events/s")

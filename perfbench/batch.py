"""`batch-headline` workload: four of the headline queries, closed loop.

One query at a time, each fully executed with `count()`. Every query
first runs once untimed with `collect()`, and that result is
hash-matched against the query's registered DuckDB oracle
(`registry.oracle_sql()`). An untimed warm-up pass follows, then timed
rounds run in `QUERIES` order until the run's seconds are spent, at
least `MIN_ROUNDS` of them. A query's figures are the medians of its
timed executions' wall time and CPU time (`probe.tree_cpu_s`), each
over build (the `queries()[name](spark, sf)` call) + plan + execute. The order is fixed because it moves the
steady-state total on its own; the seed drives only the generated
tables.

Why four of the ten `bench.py` headline queries: a query only leaves
the JVM's warm-up slope after six to eight executions (its time falls
by two thirds on the way), and a single timed execution on that slope
spread by a fifth between runs. Warming all ten that far costs more
than one run may take. The four are the batch kernels of the paper's
streaming jobs: sliding window statistics, sessionization, MinHash LSH
similarity and k-means. The TPC-H queries are left out because they
fail their oracle check on some seeds: they round a double sum of
prices to cents (`ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)`),
and where the exact sum ends in half a cent, Spark and DuckDB round it
apart (`q5_supplier_volume` at seed 409: 107038.61 against 107038.62).

In a traced run, rounds alternate untraced/traced, at least
untraced-traced-untraced so that warm-up does not pass for tracing
overhead. Traced rounds split each query into `plans` build (with the
`tables.table` calls inside it timed by wrapping that function where
the plan modules bound it), Catalyst planning (forcing
`queryExecution().executedPlan()`) and execution, and read each part's
jobs and stage metrics from the status tracker by job group. Direct
`table()` calls are timed per table.
"""

from __future__ import annotations

import datetime
import math
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import duckdb

from probe import SparkProbe, geomean, median, tree_cpu_s

# listed here, not imported from bench.py, so the benchmark does not
# depend on it
QUERIES = (
    "sliding_activity_stats",
    "user_sessions",
    "similar_users_minhash_lsh",
    "kmeans_embeddings",
)
# After the check and one warm-up pass on WARM_THREADS threads (that
# many executions of each query), timed rounds start on the plateau.
WARM_THREADS = 4
MIN_ROUNDS = 3
TABLE_PROBE_REPEATS = 3


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def canonical(columns, rows) -> list[tuple]:
    """Order-insensitive, column-order-insensitive row multiset."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))


def check_against_oracle(df, sql: str, sf_dir: str, table_names) -> str | None:
    """None when the Spark result equals the DuckDB oracle's, else why not."""
    cols, rows = list(df.columns), [tuple(r) for r in df.collect()]
    conn = duckdb.connect()
    try:
        for t in table_names:
            conn.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        res = conn.execute(sql)
        dcols, drows = [d[0] for d in res.description], res.fetchall()
    finally:
        conn.close()
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} != oracle {sorted(dcols)}"
    if not rows:
        return "empty result"
    if canonical(cols, rows) != canonical(dcols, drows):
        return f"{len(rows)} rows differ from the oracle's {len(drows)}"
    return None


class _TimedTable:
    """Stands in for `tables.table` inside the plan modules during a traced
    round, so each call inside a builder becomes a `tables.table` span."""

    def __init__(self, fn, tracer):
        self.fn, self.tracer = fn, tracer

    def __call__(self, *args, **kwargs):
        with self.tracer.span("tables.table"):
            return self.fn(*args, **kwargs)


def _patch_table(wrapper):
    """Rebind `table` in every loaded module that imported it; returns an
    undo callable."""
    from mvrs_dspa_spark import tables

    orig = tables.table
    patched = [
        m for m in list(sys.modules.values())
        if m is not None and getattr(m, "__name__", "").startswith("mvrs_dspa_spark")
        and getattr(m, "table", None) is orig
    ]
    for m in patched:
        m.table = wrapper

    def undo():
        for m in patched:
            m.table = orig

    return undo


def run(ctx) -> None:
    from mvrs_dspa_spark.plans.registry import oracle_sql, queries
    from mvrs_dspa_spark.tables import TABLE_NAMES, table

    spark, sf, tracer, res = ctx.spark, ctx.sf_dir, ctx.tracer, ctx.result
    qs, oracles = queries(), oracle_sql()

    # untimed: the output check, then the warm-up pass; both run the
    # queries concurrently only to shorten set-up
    def check(name):
        try:
            return check_against_oracle(qs[name](spark, sf), oracles[name], sf, TABLE_NAMES)
        except Exception as e:  # a query that raises is a failed operation
            return f"raised {type(e).__name__}: {e}"

    with ThreadPoolExecutor(len(QUERIES)) as pool:
        for name, why in zip(QUERIES, pool.map(check, QUERIES)):
            res.attempt(1)
            if why is not None:
                res.fail(f"{name}: {why}")
    ctx.log("outputs checked")

    def warm(first):  # every query once, starting at QUERIES[first]
        for name in QUERIES[first:] + QUERIES[:first]:
            res.attempt(1)
            try:
                qs[name](spark, sf).count()
            except Exception as e:
                res.fail(f"{name} warm-up: {type(e).__name__}: {e}")

    with ThreadPoolExecutor(WARM_THREADS) as pool:
        list(pool.map(warm, [i % len(QUERIES) for i in range(WARM_THREADS)]))
    ctx.log("warmed up")

    probe = SparkProbe(spark) if tracer.enabled else None
    times = {n: [] for n in QUERIES}  # untraced wall per query
    cpu = {n: [] for n in QUERIES}  # untraced CPU seconds per query
    layers = {n: [] for n in QUERIES}  # traced per-query layer records
    ctx.start_timing()
    t_start = time.perf_counter()
    rnd = 0
    while True:
        traced = tracer.enabled and rnd % 2 == 1
        undo = _patch_table(_TimedTable(table, tracer)) if traced else None
        try:
            with tracer.span("batch.round") if traced else nullcontext() as rspan:
                for name in QUERIES:
                    res.attempt(1)
                    try:
                        if traced:
                            layers[name].append(
                                _traced_query(spark, sf, qs[name], name, rnd, tracer, probe)
                            )
                        else:
                            c0, t0 = tree_cpu_s(), time.perf_counter()
                            qs[name](spark, sf).count()
                            times[name].append(time.perf_counter() - t0)
                            cpu[name].append(tree_cpu_s() - c0)
                    except Exception as e:
                        res.fail(f"{name} round {rnd}: {type(e).__name__}: {e}")
            if traced:
                ctx.roots.append(rspan.index)
        finally:
            if undo:
                undo()
        ctx.log(f"round {rnd} done")
        rnd += 1
        if time.perf_counter() - t_start >= ctx.seconds and rnd >= MIN_ROUNDS:
            break

    per_query = {n: median(times[n]) for n in QUERIES}
    total, gm = sum(per_query.values()), geomean(per_query.values())
    cpu_query = {n: median(cpu[n]) for n in QUERIES}
    res.e2e(cpu_s=sum(cpu_query.values()), op_cpu_ms=geomean(cpu_query.values()) * 1000.0)
    res.report.update(
        headline_total_s=(total, "s"),
        headline_geomean_s=(gm, "s"),
        **{f"query.{n}_s": (per_query[n], "s") for n in QUERIES},
        **{f"query.{n}_cpu_s": (cpu_query[n], "s") for n in QUERIES},
    )
    if not tracer.enabled:
        return

    def summed(get) -> float:  # over queries, of each query's median
        return sum(median(get(r) for r in layers[n]) for n in QUERIES)

    traced_total = summed(lambda r: r["wall_s"])
    res.layer("trace.overhead_share", (traced_total - total) / total, "ratio")
    res.layer("plans.build_s", summed(lambda r: r["build_s"]), "s")
    res.layer("plans.build_jobs", summed(lambda r: r["build_jobs"]), "count")
    res.layer("plan.plan_s", summed(lambda r: r["plan_s"]), "s")
    res.layer("exec.exec_s", summed(lambda r: r["exec_s"]), "s")
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("executor_run_s", "s"), ("shuffle_read_bytes", "bytes"),
                      ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")):
        res.layer(f"exec.{key}", summed(lambda r: r["exec"][key]), unit)
    for n in QUERIES:
        res.layer(f"q.{n}.build_s", median(r["build_s"] for r in layers[n]), "s")
        res.layer(f"q.{n}.exec_s", median(r["exec_s"] for r in layers[n]), "s")
        res.report[f"q.{n}.plan_s"] = (median(r["plan_s"] for r in layers[n]), "s")
        res.report[f"q.{n}.exec_jobs"] = (median(r["exec"]["jobs"] for r in layers[n]), "count")

    # direct table() calls: time and Spark jobs per table
    t_sum = j_sum = 0.0
    for name in TABLE_NAMES:
        ts, js = [], []
        for k in range(TABLE_PROBE_REPEATS):
            group = f"pb-table-{name}-{k}"
            spark.sparkContext.setJobGroup(group, group)
            t0 = time.perf_counter()
            table(spark, sf, name)
            ts.append(time.perf_counter() - t0)
            js.append(len(probe.jobs(group)))
        spark.sparkContext.setJobGroup("pb-idle", "pb-idle")
        res.report[f"tables.{name}.table_s"] = (median(ts), "s")
        res.report[f"tables.{name}.table_jobs"] = (median(js), "count")
        t_sum += median(ts)
        j_sum += median(js)
    res.layer("tables.table_s", t_sum, "s")
    res.layer("tables.table_jobs", j_sum, "count")


def _traced_query(spark, sf, fn, name, rnd, tracer, probe) -> dict:
    sc = spark.sparkContext
    t0 = time.perf_counter()
    with tracer.span("batch.query"):
        sc.setJobGroup(f"pb-build-{name}-{rnd}", name)
        with tracer.span("plans.build"):
            df = fn(spark, sf)
        t1 = time.perf_counter()
        with tracer.span("plan.catalyst"):
            df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        sc.setJobGroup(f"pb-exec-{name}-{rnd}", name)
        with tracer.span("exec.execute"):
            df.count()
        t3 = time.perf_counter()
        sc.setJobGroup("pb-idle", "pb-idle")
    return {
        "wall_s": t3 - t0,
        "build_s": t1 - t0,
        "plan_s": t2 - t1,
        "exec_s": t3 - t2,
        "build_jobs": float(len(probe.jobs(f"pb-build-{name}-{rnd}"))),
        "exec": probe.job_stats(probe.jobs(f"pb-exec-{name}-{rnd}")),
    }


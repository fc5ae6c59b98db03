#!/usr/bin/env python3
"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run generates its inputs from the
seed (`datagen.py`) under `.perfbench/` in the current directory,
starts the engine's session on local[nproc], runs the workload, checks
its outputs, and prints one `metric <name> <value> <unit>` line per
figure followed, as the last line, by a JSON object with `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are
the `end_to_end` metrics of BENCHMARK.json, with `--trace 1` its
`per_layer` metrics (a layer the workload does not call reads 0).
A traced run also writes its spans to `.perfbench/traces/`.
Exit status: 0 on a correct run, 1 on a wrong or failed result, 2
when the program under test is not present.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# scale of the generated tables (sf0.01: 60,000 lineitems, 10,000 events)
SF = 0.01
REPLAY_SLICES = 3  # 10 days of event time each


class Result:
    """Operation counts, failures and figures of one run. `attempt` and
    `fail` may be called from several threads."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.attempted = 0
        self.failed = 0
        self.e2e_values: dict[str, float] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.report: dict[str, tuple[float, str]] = {}

    def attempt(self, n: int = 1) -> None:
        with self._lock:
            self.attempted += n

    def fail(self, why: str, n: int = 1) -> None:
        with self._lock:
            self.failed += n
        print(f"FAILED: {why}", file=sys.stderr, flush=True)

    def e2e(self, **values: float) -> None:
        self.e2e_values.update(values)

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)


class Context:
    """What a workload needs: session, inputs, tracer, result."""

    def __init__(self, args, work: str) -> None:
        from probe import Tracer

        self.seed, self.seconds, self.work = args.seed, args.seconds, work
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        self.tracer = Tracer(enabled=bool(args.trace), run_id=run_id)
        self.result = Result()
        self.roots: list[int] = []  # span of each traced unit (round or drain)
        self.inner: dict[tuple, list] = {}
        self.t_timing: float | None = None
        self.spark = None
        self.session_start_s = 0.0

    def start_session(self, cpus: int) -> float:
        """Start the engine's session on local[cpus]; returns the seconds it took."""
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        from mvrs_dspa_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def restart_session(self, cpus: int) -> None:
        """A new session with `cpus` cores in the same JVM."""
        self.spark.stop()
        self.start_session(cpus)

    def start_timing(self) -> None:
        self.t_timing = time.perf_counter()
        self.log("timing starts")

    @staticmethod
    def log(what: str) -> None:
        """One progress line on stderr, stamped with seconds since start."""
        print(f"perfbench {time.perf_counter() - T_PROCESS:7.2f}s {what}", file=sys.stderr, flush=True)

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


def _workloads():
    import batch
    import streams

    return {
        "batch-headline": batch.run,
        "stream-jobs": lambda ctx: streams.run(ctx, REPLAY_SLICES),
    }


def _stop_jvm() -> None:
    """Stop the session and the JVM it runs in, and wait for that process."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _self_time_layers(ctx) -> None:
    """Self time per layer (a span name's first dot segment) over the
    traced units, and the share of their wall time that lies inside
    spans below the unit's own."""
    tracer, per_layer = ctx.tracer, {}
    walls = covered = 0.0
    for root in ctx.roots:
        own = tracer.self_times(root)
        walls += tracer.duration(root)
        covered += tracer.duration(root) - own[root]
        for i, secs in own.items():
            layer = tracer.spans[i].name.split(".")[0]
            per_layer[layer] = per_layer.get(layer, 0.0) + secs
    for layer, secs in per_layer.items():
        ctx.result.layer(f"self.{layer}_s", secs, "s")
    if walls:
        ctx.result.layer("trace.accounted_share", covered / walls, "ratio")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "mvrs_dspa_spark")) or not os.path.isfile(spec_path):
        print("perfbench: run from the repository root (mvrs_dspa_spark/ and "
              "BENCHMARK.json not found here)", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}",
              file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # keep every file the run writes inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    confs = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()] + ["pyspark-shell"]
    )
    sys.path.insert(0, root)

    import datagen

    ctx = Context(args, work)
    res = ctx.result
    ctx.nproc = nproc = len(os.sched_getaffinity(0))
    try:
        ctx.sf_dir = os.path.join(work, "data")
        ctx.table_rows = datagen.write(ctx.sf_dir, args.seed, SF)
        ctx.log("inputs generated")
        ctx.session_start_s = ctx.start_session(nproc)
        ctx.log("session started")
        workloads[args.workload](ctx)
        if ctx.t_timing is None:
            res.fail("workload ended before timing started")
        res.e2e(setup_s=(ctx.t_timing or time.perf_counter()) - T_PROCESS)
        res.layer("session.start_s", ctx.session_start_s, "s")
        res.layer("session.jvm_peak_rss_mb", ctx.jvm_peak_rss_mb(), "MB")
        if ctx.tracer.enabled:
            _self_time_layers(ctx)
    except Exception as e:  # any escape is a failed run, reported, not hidden
        import traceback

        traceback.print_exc()
        res.fail(f"run raised {type(e).__name__}: {e}")
    finally:
        try:
            _stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    if ctx.tracer.enabled:
        tdir = os.path.join(root, ".perfbench", "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"spans": ctx.tracer.dump(), "layers": res.layers, "report": res.report}, f)

    metrics = {}
    if args.trace:
        for m in spec["per_layer"]:
            metrics[m["name"]] = {"value": res.layers.get(m["name"], (0.0,))[0], "unit": m["unit"]}
    else:
        for m in spec["end_to_end"]:
            if m["name"] not in res.e2e_values:
                res.fail(f"end-to-end metric {m['name']} not measured")
                continue
            metrics[m["name"]] = {"value": res.e2e_values[m["name"]], "unit": m["unit"]}
    res.report["error_rate"] = (res.failed / res.attempted if res.attempted else 1.0, "ratio")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    e2e = {k: (v, units.get(k, "")) for k, v in res.e2e_values.items()}
    for name, (value, unit) in sorted({**res.report, **e2e, **res.layers}.items()):
        print(f"metric {name} {value!r} {unit}")
    correct = res.failed == 0 and res.attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": max(res.attempted, 1),
        "failed": res.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Feeds-to-container benchmark.

    python3 perfbench/run.py --workload feeds_x1 --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One run is one fresh driver process on
``local[4]``:

1. ``prepare.py`` makes the workload's inputs from the seed, in a child
   process, outside every timed region;
2. set-up: import the program and start the session (``setup_s``);
3. timed passes run back to back while the timed total is under
   ``--seconds``; the first pass always runs and is the cold one
   (``cold_run_s``), as in one ``python -m vul_dbgen_spark`` run;
4. every pass's output is checked; a pass that raises or fails its check
   counts as failed;
5. on every way out, the run waits until each process it started has
   ended, the JVM's Python worker daemon and its workers included.

With ``--trace 1`` an untraced warm-up pass is followed by pairs of one
traced and one untraced pass, in an order that alternates with the seed
and the pair. Layer spans come from the traced passes; the per-pass
Spark and py4j counters from the untraced ones, which run the program
as is; the tracing overhead is traced minus untraced pass time. Spans
are written to ``.bench_build/perfbench/``.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics. The metric names and units are those of ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

CPUS = 4
# what the benchmark needs from the checkout besides its own files
PROGRAM_PATHS = [
    "BENCHMARK.json",
    "vul_dbgen_spark/plans/pipeline.py",
    "tools/gen_pipeline_scale.py",
    "tests/test_sink.py",
    "fixtures/vul-source",
]


def _declared_metrics() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    end_to_end, per_layer = ({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))
    return end_to_end, per_layer


def _isolate(run_dir: str) -> None:
    """Keep Spark's, the JVM's and Python's scratch files inside the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        # no perf-data file: HotSpot writes it under /tmp whatever the tmpdir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    # the session's own defaults: an 8 GB pre-touched heap, no debugging
    for name in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_DF_DEBUG"):
        os.environ.pop(name, None)


def _become_subreaper() -> None:
    """Make processes orphaned below this one re-parent to it, not to init:
    the JVM's Python worker daemon outlives the JVM for a moment, and
    ``_reap_children`` must be able to wait for it and its workers."""
    import ctypes

    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):  # ended meanwhile
            continue
        if int(fields[1]) == me:
            kids.append(int(name))
    return kids


def _reap_children(grace_s: float = 30.0) -> None:
    """Wait until every process this run started, and every descendant of
    one, has ended; kill whatever still runs after ``grace_s`` seconds."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _pass(wl, i: int, tracer=None, counter=None) -> tuple[float, dict, int, list[str]]:
    """(seconds, result, items, problems) of one checked pass. A
    ``counter`` is a Tracer whose only span is the whole untraced pass."""
    try:
        if counter is None:
            seconds, result = wl.run_pass(i, tracer)
        else:
            with counter.span("pass"):
                seconds, result = wl.run_pass(i)
        items, problems = wl.check(result)
    except Exception:  # a failed pass is counted, and the run goes on
        traceback.print_exc()
        return 0.0, {}, wl.items_per_pass, ["pass raised"]
    kind = "untraced" if tracer is None else "traced"
    print(f"pass {i} ({kind}): {seconds:.2f} s, {len(problems)} problems", file=sys.stderr)
    for p in problems:
        print(f"pass {i}: {p}", file=sys.stderr)
    return seconds, result, items, problems


def _spark_metrics(counter) -> dict:
    return {
        "spark.jobs": counter.total("spark_jobs"),
        "spark.stages": counter.total("stages"),
        "spark.tasks": counter.total("tasks"),
        "spark.executor_cpu_s": counter.total("executor_cpu_ns") / 1e9,
        "spark.shuffle_read_bytes": counter.total("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": counter.total("shuffle_write_bytes"),
        "spark.spill_bytes": counter.total("spill_bytes"),
        "py4j_calls": counter.total("py4j_calls"),
    }


def measure(wl, spark, seconds: float, trace: bool, seed: int, span_path: str) -> tuple[int, int, dict]:
    """(attempted, failed, metrics) over the run's passes."""
    attempted = failed = 0
    times = []

    def run(i, tracer=None, counter=None):
        nonlocal attempted, failed
        dt, result, items, problems = _pass(wl, i, tracer, counter)
        attempted += items
        failed += min(items, len(problems))
        if not problems:
            times.append(dt)
        return dt, result, problems

    if not trace:
        run(0)
        while failed == 0 and sum(times) < seconds:
            run(len(times))
        if not times:
            return attempted, failed, {}
        if len(times) > 1:
            print(f"warm_run_s {statistics.median(times[1:]):.4f} s over {len(times) - 1} passes", file=sys.stderr)
        return attempted, failed, {"cold_run_s": times[0]}

    from spans import Py4jCounter, Tracer

    py4j = Py4jCounter()
    py4j.install()
    run(0)  # warm-up
    layer_runs, counter_runs, traced_s, untraced_s, spans = [], [], [], [], []

    def traced(i) -> bool:
        tracer = Tracer(spark, py4j, pass_id=i)
        dt, result, problems = run(i, tracer)
        if not problems:
            tracer.finish()
            spans.extend(tracer.records())
            traced_s.append(dt)
            layer_runs.append(
                {
                    **wl.layer_metrics(tracer, result),
                    "trace.unattributed_s": tracer.total("s", {"pass"}),
                    "trace.pass_s": dt,
                }
            )
        return not problems

    def untraced(i) -> bool:
        counter = Tracer(spark, py4j, pass_id=i)
        dt, _, problems = run(i, counter=counter)
        if not problems:
            counter.finish()
            untraced_s.append(dt)
            counter_runs.append(_spark_metrics(counter))
        return not problems

    # warm-up is still under way after one pass, so which of a pair runs
    # first alternates: over seeds (and pairs) it favours neither
    t_start = time.perf_counter()
    pair = 0
    while not traced_s or time.perf_counter() - t_start < seconds:
        order = (traced, untraced) if (seed + pair) % 2 == 0 else (untraced, traced)
        if not all(step(2 * pair + 1 + k) for k, step in enumerate(order)):
            break
        pair += 1
    py4j.uninstall()
    with open(span_path, "w", encoding="utf-8") as f:
        json.dump(spans, f)
    if not traced_s or not untraced_s:
        return attempted, failed, {}
    metrics = {}
    for runs in (layer_runs, counter_runs):
        metrics.update({k: statistics.median(r[k] for r in runs) for k in runs[0]})
    metrics["trace.untraced_pass_s"] = statistics.median(untraced_s)
    metrics["trace.overhead_s"] = statistics.median(traced_s) - metrics["trace.untraced_pass_s"]
    return attempted, failed, metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM_PATHS if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from a checkout of the program; missing {missing}", file=sys.stderr)
        return 2
    end_to_end, per_layer = _declared_metrics()
    spec = WORKLOADS[args.workload]

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    try:
        _isolate(run_dir)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "prepare.py"), args.workload, str(args.seed), inputs],
            check=True,
            timeout=150,
        )

        t0 = time.perf_counter()
        sys.path.insert(0, ROOT)
        from vul_dbgen_spark.session import get_spark

        if spec["kind"] == "feeds":
            from feeds import FeedsWorkload as Workload
        else:
            from catalog_graph import CatalogGraphWorkload as Workload
        spark = get_spark("perfbench", cpus=CPUS)
        setup_s = time.perf_counter() - t0

        try:
            wl = Workload(spark, ROOT, inputs, os.path.join(run_dir, "out"), spec, args.seed)
            span_path = os.path.join(WORK, f"spans-{args.workload}-seed{args.seed}.json")
            attempted, failed, metrics = measure(wl, spark, args.seconds, bool(args.trace), args.seed, span_path)
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if not metrics:
        print("perfbench: no pass succeeded", file=sys.stderr)
        return 1
    units = per_layer if args.trace else end_to_end
    if not args.trace:
        metrics["setup_s"] = setup_s
        metrics["driver_peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    unknown, missing = set(metrics) - set(units), set(units) - set(metrics)
    if unknown or (missing and not args.trace):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(unknown | missing)}")
    # a layer the workload does not run did no work
    metrics = {name: metrics.get(name, 0) for name in units}
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    print(f"failed_frac {failed / attempted:.4g} ({failed} of {attempted} checked outputs)")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {name: {"value": value, "unit": units[name]} for name, value in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    # a terminated run still stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    _become_subreaper()
    try:
        code = main()
    finally:
        _reap_children()
    sys.exit(code)

"""osmgraft benchmark: one workload per invocation, closed loop.

    python3 perfbench/run.py --workload flagship_pages --seed 1 \\
        --seconds 8 --trace 0

One client (this process) drives local[<host cpus>]: it builds the
seeded inputs, starts the session, runs the workload's output check,
runs untimed warm-up passes until they stop trending, then times
passes back to back for --seconds (at least the workload's minimum
number of passes). Outputs are checked
against oracles outside the timed window; a pass whose output is
wrong counts as failed. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs the same
loop with spans and Spark status-store counters on every other pass,
then the layer probes, and reports the per-layer metrics. Spans are
written to .perfbench_work/traces/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# a pass at most this much faster than the one before ends warm-up
WARM_TREND = 0.10


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_info() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal:"))
                     .split()[1])
    return {"cpus": cpus, "mem_gb": round(mem_kb / 2**20, 1)}


def _environment(host: dict) -> dict:
    """Process environment and session settings, fixed before the JVM
    starts. Workers inherit PYTHONPATH, so they import osmgraft from
    the checkout whatever the cwd."""
    run_dir = _run_dir()
    for d in (os.path.join(run_dir, "spark-local"),
              os.path.join(run_dir, "tmp"), os.path.join(WORK, "traces")):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # a quarter of host memory, at most 4g: the default 24g heap does
    # not fit a 15 GB host without swap
    heap_mb = min(4096, int(host["mem_gb"] * 1024 / 4))
    return {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


def _run_dir() -> str:
    """Per-process temp space, removed when the run ends."""
    return os.path.join(WORK, f"run-{os.getpid()}")


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers
    it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def measure(w, spark, seconds: float, tracer, traced: bool,
            before_timed=None) -> dict:
    """Check, warm-up, then the timed window. Returns pass records.
    `before_timed`, if given, is called between warm-up and the timed
    window."""
    from perfbench import proctree

    me = os.getpid()

    def one(pass_id: int, timed: bool, with_span: bool):
        spark.catalog.clearCache()
        gc.collect()
        # start every pass from a collected JVM heap too, so no pass
        # pays for the garbage of the one before
        spark._jvm.System.gc()
        cpu0 = proctree.tree_cpu_s(me)
        # peak RSS is a per-layer metric: only the traced run pays for
        # the sampling thread
        rss = proctree.RssPeak(me) if traced else contextlib.nullcontext()
        sp = None
        with rss:
            t0 = time.monotonic()
            try:
                if with_span:
                    with tracer.span(w.name + ".pass", pass_id=pass_id,
                                     counters=True) as sp:
                        w.run_pass(pass_id)
                else:
                    w.run_pass(pass_id)
            except Exception:
                if not timed:  # a failing warm-up leaves nothing to time
                    raise
                traceback.print_exc()
                ok = False
            else:
                ok = True
            dt = time.monotonic() - t0
        cpu = proctree.tree_cpu_s(me) - cpu0
        if timed and ok:
            ok = w.check_pass(pass_id)
        return {"id": pass_id, "s": dt, "cpu_s": cpu,
                "rss_mb": rss.peak_mb if traced else None,
                "ok": ok, "traced": with_span,
                "counters": sp.counters if sp is not None else {}}

    # the end-of-run check goes first: on flagship_pages it is a full
    # pass of the same scan, geocode and PIP, so it doubles as the
    # cold pass. setup_s covers it and the fixed warm-up passes; the
    # passes added while times still trend down vary in number
    verified = w.verify()
    warm = []
    pass_id = 0
    while len(warm) < w.warmup_max:
        warm.append(one(pass_id, False, False)["s"])
        pass_id += 1
        if len(warm) == w.warmup_min:
            t_warm_end = time.monotonic()
        if len(warm) >= max(w.warmup_min, 2) and (
            warm[-1] >= (1 - WARM_TREND) * warm[-2]
        ):
            break

    if before_timed is not None:
        before_timed()
    passes = []
    t_start = time.monotonic()
    # the traced run needs both kinds of pass to state its overhead,
    # and no more: it reports no end-to-end metric
    need = 2 if traced else w.min_passes
    while time.monotonic() - t_start < seconds or len(passes) < need:
        passes.append(one(pass_id, True, traced and len(passes) % 2 == 0))
        pass_id += 1
    return {"warm_s": warm, "passes": passes, "t_warm_end": t_warm_end,
            "verified": verified}


def tally(passes: list[dict], verified: bool) -> tuple[int, int]:
    """(attempted, failed). A pass fails when it raises or its own
    output check fails; when the end-of-run check fails, every pass
    fails, since each ran the same plan on the same input."""
    if not verified:
        return len(passes), len(passes)
    return len(passes), sum(not p["ok"] for p in passes)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "osmgraft", "__init__.py")):
        print(f"perfbench: no osmgraft package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs, oracles, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    host = host_info()
    conf = _environment(host)
    w = workloads.WORKLOADS[args.workload](WORK, args.seed)
    t0 = time.monotonic()
    w.prepare()
    if args.trace:
        tail_dir = inputs.tail_input(WORK, args.seed, workloads.TAIL_DOCS)
    gen_s = time.monotonic() - t0

    from osmgraft.session import get_spark

    from perfbench.trace import StatusStore, Tracer

    t_setup = time.monotonic()
    spark = get_spark(app_name="perfbench-" + w.name,
                      cores=host["cpus"], extra=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.monotonic() - t_setup
    pool = ThreadPoolExecutor(1)
    try:
        w.start(spark)
        tracer = Tracer(w.name, StatusStore(spark) if args.trace else None)
        tail = None
        if args.trace:
            # the tail oracles take ~20 s of DuckDB; the traced run
            # overlaps them with its warm-up, which it does not report
            tail = {"dir": tail_dir, "expected": pool.submit(
                oracles.tail_expected, tail_dir, workloads.TAIL_QUERIES)}
        m = measure(w, spark, args.seconds, tracer, bool(args.trace),
                    tail and tail["expected"].result)
        setup_s = m["t_warm_end"] - t_setup
        attempted, failed = tally(m["passes"], m["verified"])
        metrics, extra, probe_checks = _report(
            args, w, spark, tracer, m, host, setup_s, session_s, gen_s,
            tail,
        )
        # the traced run's probes check their outputs too; each is one
        # more operation
        attempted += len(probe_checks)
        failed += sum(not ok for ok in probe_checks)
    finally:
        pool.shutdown(cancel_futures=True)
        _stop_spark(spark)
        shutil.rmtree(_run_dir(), ignore_errors=True)
    print(json.dumps(extra), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _declared(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def _report(args, w, spark, tracer, m, host, setup_s, session_s, gen_s,
            tail):
    """-> (metrics for stdout, context for stderr, probe checks)."""
    med = statistics.median
    passes = m["passes"]
    extra = {
        "workload": w.name, "seed": args.seed, "host": host,
        "rows_per_pass": w.rows, "gen_s": gen_s,
        "warmup_s": m["warm_s"], "pass_s": [p["s"] for p in passes],
    }
    checks = []
    if args.trace:
        values, checks = _layers(w, spark, tracer, passes, session_s,
                                 tail)
        tracer.dump(os.path.join(
            WORK, "traces", f"{w.name}-seed{w.seed}.json"), extra)
    else:
        values = {
            "rows_per_s": w.rows / med([p["s"] for p in passes]),
            "cpu_s": med([p["cpu_s"] for p in passes]),
            "setup_s": setup_s,
        }
    units = _declared(bool(args.trace))
    if set(values) != set(units):
        raise RuntimeError(
            "measured metrics differ from BENCHMARK.json: "
            f"{sorted(set(values) ^ set(units))}"
        )
    return ({k: {"value": v, "unit": units[k]} for k, v in values.items()},
            extra, checks)


def _layers(w, spark, tracer, passes, session_s, tail):
    """Per-layer metrics of the traced run, and the output checks of
    its probes. Every traced run reports every per-layer metric, so it
    also probes the layers of the workload that is not being run, on
    that workload's input for the same seed, and the iterative-tail
    queries on the seed's tail tables."""
    from perfbench import workloads

    med = statistics.median
    checks = []
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    counters = {
        k: med([p["counters"][k] for p in traced])
        for k in traced[0]["counters"]
    }
    out = {
        "session.start_s": session_s,
        # not an end-to-end metric: it varied 20% between
        # flagship_pages runs, since heap growth follows GC timing
        "peak_rss_mb": max(p["rss_mb"] for p in passes),
        "trace.overhead_pct": 100 * (
            med([p["s"] for p in traced]) / med([p["s"] for p in plain]) - 1
        ),
        **{"spark." + k: v for k, v in counters.items()},
        **workloads.pip_kernel_probes(tracer),
    }

    if isinstance(w, workloads.FlagshipPages):
        flag, flag_pass_s = w, med([p["s"] for p in passes])
    else:
        flag = workloads.FlagshipPages(w.work, w.seed)
        flag.prepare()
        flag.start(spark)
        # the check is a full pass, so it also warms the timed one
        checks.append(flag.verify())
        flag_pass_s, _ = workloads.median_time(
            tracer, flag.name + ".pass", lambda: flag.run_pass(-1),
            reps=workloads.HEAVY_REPS,
        )
    if isinstance(w, workloads.OsmClip):
        osm, osm_offcpu = w, counters["exec_offcpu_s"]
    else:
        osm = workloads.OsmClip(w.work, w.seed)
        osm.prepare()
        osm.start(spark)
        with tracer.span(osm.name + ".pass", counters=True) as sp:
            osm.run_pass(-1)
        checks.append(osm.check_pass(-1))
        osm_offcpu = sp.counters["exec_offcpu_s"]
    out.update(workloads.flagship_probes(tracer, flag, flag_pass_s))
    out.update(workloads.osm_probes(tracer, spark, osm, osm_offcpu))
    tail_out, tail_checks = workloads.tail_probes(
        tracer, spark, tail["dir"], tail["expected"].result())
    out.update(tail_out)
    return out, checks + tail_checks


if __name__ == "__main__":
    sys.exit(main())

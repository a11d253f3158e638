"""crawlspark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload polite_images --seed 1 --seconds 16 --trace 0

Runs from the root of a source checkout. Starts Spark ``local[nproc]``
in this process (sized from the machine), generates the workload's
inputs from ``--seed`` (untimed, cached under ``.perfbench/``), sets
the program up, runs the workload's untimed warm units, then timed
units back to back for about ``--seconds`` seconds, checking the
output of every unit. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs units
in blocks of untraced, traced, traced, untraced and reports the
per-layer metrics (see perfbench/README.md). Lines before it, starting
with ``#``, are for people. Exit status is 0 only when every output
check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

END_TO_END = {"run_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "engine.jobs_per_wave": "count", "engine.stages_per_wave": "count",
    "engine.driver_gap_s": "s", "engine.fetch_parse_s": "s", "engine.frontier_s": "s",
    "engine.subwaves": "count", "engine.subwave_max_s": "s", "engine.python_s": "s",
    "engine.arrow_sent_mb": "MB", "engine.arrow_recv_mb": "MB",
    "engine.shuffle_write_mb": "MB", "engine.spill_mb": "MB",
    "engine.executor_cpu_s": "s", "engine.gc_s": "s", "engine.failed_tasks": "count",
    "engine.unattributed_s": "s", "engine.unattributed_frac": "ratio",
    "htmlex.extract_us_per_page": "us", "canon.resolve_us_per_link": "us",
    "robots.match_us_per_url": "us", "imagecodec.decode_us_per_image": "us",
    "bloomfilter.fold_s": "s", "bloomfilter.maybe_frac": "ratio",
    "bloomfilter.maybe_base": "count",
    "store.stage_s": "s", "store.stage_calls": "count", "store.commit_s": "s",
    "store.commits": "count", "store.commit_gap_max_s": "s",
    "store.bytes_written_mb": "MB", "store.bytes_per_url": "B",
    "ops.assign_s": "s", "ops.neardup_s": "s", "ops.topk_s": "s",
    "ops.pairs_scored": "count", "ops.pairs_kept_frac": "ratio", "ops.task_skew": "ratio",
    "trace.overhead_s": "s",
}
MIN_UNITS = 3


def machine() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    mem_mb = mem_kb // 1024
    import pyspark

    return {
        "nproc": nproc,
        "mem_mb": mem_mb,
        # a quarter of physical memory, at most 2 GiB: room for the
        # Python workers and for other tenants of the machine
        "driver_heap_mb": max(1024, min(2048, mem_mb // 4)),
        "shuffle_partitions": 2 * nproc,
        "parse_partitions": 6 * nproc,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def build_spark(m: dict):
    from pyspark.sql import SparkSession

    tmp = os.path.join(STATE, "tmp")
    return (
        SparkSession.builder.master(f"local[{m['nproc']}]")
        .appName("crawlspark-perfbench")
        .config("spark.driver.memory", f"{m['driver_heap_mb']}m")
        # a fixed-size heap: G1 then never resizes it, which otherwise
        # makes resident memory depend on when collections happened
        .config("spark.driver.extraJavaOptions",
                f"-Xms{m['driver_heap_mb']}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(STATE, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(STATE, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(m["shuffle_partitions"]))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.locality.wait", "0")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # keep every job/stage/execution of the run in the status stores
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process this
    run started (JVM, Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — any failure to exit: kill it
            proc.kill()
            proc.wait()
    from spans import descendants

    deadline = time.time() + 30
    while True:
        kids = descendants(os.getpid())
        if not kids:
            return
        if time.time() > deadline:
            for p in kids:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # everything the run writes stays inside the checkout
    for d in ("tmp", "spark-local", "warehouse", "work", "cache", "spans"):
        os.makedirs(os.path.join(STATE, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(STATE, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)
    import crawlspark  # noqa: F401 — fail before starting anything without the program

    from spans import RssSampler, SparkLedger, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r} (have {sorted(WORKLOADS)})")
    m = machine()
    print("# machine " + json.dumps(m), flush=True)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = Tracer(run_id)
    checks: list = []
    runs, traced_runs, ctor, unit_rss = [], [], [], []
    layer_rows: list[dict] = []

    with RssSampler() as rss:
        t = time.time()
        spark = build_spark(m)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.time() - t
        try:
            wl = WORKLOADS[args.workload](spark, args.seed, STATE, m)
            t = time.time()
            wl.prepare()
            print(f"# inputs {args.workload} seed={args.seed} items={wl.items()} "
                  f"{wl.item_unit} made_in={time.time() - t:.2f}s (untimed)", flush=True)
            ledger = SparkLedger(spark)
            t = time.time()
            wl.layout()
            layout_s = time.time() - t

            # untimed warm units, the same number in both modes: the
            # first pays Python worker start-up and code generation, the
            # next ones the JIT warm-up; each workload warms for as many
            # units as its unit time takes to level off (README.md)
            warm: list[float] = []
            for _ in range(wl.warm_units):
                t = time.time()
                u = wl.new_unit()
                wl.run(u)
                warm.append(time.time() - t)
                checks += wl.check(u)
                wl.close(u)
            warm_s = sum(warm)

            t_loop = time.time()
            last_traced = None
            while True:
                n = len(runs) + len(traced_runs)
                # traced runs go in blocks of four, untraced, traced,
                # traced, untraced, so a trend over the run cancels out
                # of the traced-minus-untraced difference
                traced = args.trace == 1 and n % 4 in (1, 2)
                group = f"{run_id}-u{n}"
                spark.sparkContext.setJobGroup(group, group)
                t0 = time.time()
                u = wl.new_unit()
                t1 = time.time()
                ctor.append(t1 - t0)
                rss.peak = 0
                if traced:
                    wl.tracer = tracer
                    with tracer.span("unit") as root, wl.trace_hooks(tracer):
                        tracer.root = root
                        t1 = time.time()
                        wl.run(u)
                        t2 = time.time()
                    wl.tracer = tracer.root = None
                    traced_runs.append(t2 - t1)
                    layer_rows.append(wl.layers(u, tracer, ledger, t1, t2, group))
                else:
                    wl.run(u)
                    t2 = time.time()
                    runs.append(t2 - t1)
                    rss.sample()
                    unit_rss.append(rss.peak_mb)
                spark.sparkContext.setJobGroup("", "")
                checks += wl.check(u)
                if traced:
                    if last_traced is not None:
                        wl.close(last_traced)
                    last_traced = u
                else:
                    wl.close(u)
                n = len(runs) + len(traced_runs)
                elapsed = time.time() - t_loop
                step = 1 if args.trace == 0 else 4
                if n % step or n < max(MIN_UNITS, step):
                    continue
                if elapsed * (n + step) / n > args.seconds:
                    break

            layers: dict = {}
            if args.trace == 1:
                for k in PER_LAYER:
                    vals = [r[k] for r in layer_rows if k in r]
                    layers[k] = median(vals) if vals else 0.0
                layers.update(wl.replays(last_traced))
                layers["trace.overhead_s"] = median(traced_runs) - median(runs)
                wl.close(last_traced)
            tasks, failed_tasks = ledger.task_totals()
        finally:
            stop_spark(spark)
    tracer.dump(os.path.join(STATE, "spans", f"{run_id}.jsonl"))

    bad = [name for name, ok in checks if not ok]
    setup_s = session_s + layout_s + warm_s + median(ctor)
    run_s = median(runs)
    print(f"# setup_s={setup_s:.3f} = session {session_s:.3f} + layout {layout_s:.3f} "
          f"+ {len(warm)} warm units {warm_s:.3f} + median per-unit set-up {median(ctor):.3f} "
          f"(n={len(ctor)})")
    print("# warm units in order: " + " ".join(f"{x:.3f}" for x in warm))
    print(f"# run_s={run_s:.3f} median of n={len(runs)} untraced units "
          f"(min {min(runs):.3f}, max {max(runs):.3f}); "
          f"{wl.items() / run_s:.1f} {wl.item_unit}/s at {wl.items()} {wl.item_unit}")
    print("# untraced units in order: " + " ".join(f"{x:.3f}" for x in runs))
    print(f"# peak_rss_mb={median(unit_rss):.1f} median over untraced units of the unit's "
          f"peak process-tree RSS (" + " ".join(f"{x:.0f}" for x in unit_rss) + ")")
    print(f"# checks {len(checks) - len(bad)}/{len(checks)} passed"
          + (f"; FAILED: {sorted(set(bad))}" if bad else ""))
    print(f"# fail_frac={(failed_tasks + len(bad)) / (tasks + len(checks)):.6f} "
          f"= ({failed_tasks} failed tasks + {len(bad)} failed checks) "
          f"/ ({tasks} tasks + {len(checks)} checks)")
    if args.trace == 1:
        print(f"# traced run_s={median(traced_runs):.3f} (n={len(traced_runs)}), "
              f"untraced {run_s:.3f}: tracing overhead {layers['trace.overhead_s']:+.3f} s")
        for k, v in layers.items():
            print(f"#   {k} = {v:.6g} {PER_LAYER[k]}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"run_s": run_s, "setup_s": setup_s, "peak_rss_mb": median(unit_rss)}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": not bad,
        "attempted": tasks + len(checks),
        "failed": failed_tasks + len(bad),
        "metrics": metrics,
    }), flush=True)
    return 0 if not bad else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except Exception:  # noqa: BLE001 — report, print no result, fail
        traceback.print_exc()
        sys.exit(2)

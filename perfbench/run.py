"""Same-box benchmark of the ankiocr_spark engine.

    python3 perfbench/run.py --workload extract_pages --seed 1 --seconds 12 --trace 0

Runs one workload closed-loop (one job at a time) on ``local[<cpus>]``: a
warm-up iteration, then the timed iterations ``--seconds`` buys (see
``iterations``). It checks every output it produced and prints two lines:
a short human summary, then the result object ``{"correct", "attempted",
"failed", "metrics"}`` as the last line.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace 1``
runs the workload twice, untraced then with Spark's event log on, and
reports the per-layer metrics of BENCHMARK.json (a metric a workload does
not exercise reads 0 and is listed under ``not_applicable`` in the detail
file). Everything it writes goes under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

#: executor/driver heap of the benchmark's Spark session (the package
#: default of 8g is sized for large boxes)
DRIVER_MEM = "1g"


def confine(work: str) -> dict:
    """Point every temporary location of Python, the JVM and Spark into
    ``work``; returns the Spark confs that do so."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # the JVMs write no hsperfdata file to /tmp: spark-class first runs a
    # launcher JVM (these options), then the driver JVM (confs below)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    tempfile.tempdir = tmp
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.ui.showConsoleProgress": "false",
    }


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the two result lines."""
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def warm_up(spark, cpus: int) -> None:
    """One task per core through the kernel's batch function: starts the
    Python workers and imports the kernel in each."""
    from ankiocr_spark.job import EXTRACT_SCHEMA, make_extract_batches

    df = spark.range(0, cpus, 1, cpus).selectExpr(
        "concat('warm-', id) AS url", "encode('<p>warm up</p>', 'utf-8') AS html"
    )
    df.mapInPandas(make_extract_batches(), EXTRACT_SCHEMA).collect()


class Session:
    """A Spark session on a fresh JVM, with its setup time."""

    def __init__(self, confs: dict, cpus: int, event_log: str | None = None):
        from ankiocr_spark.session import get_spark

        extra = dict(confs)
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
            })
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{cpus}]", extra=extra)
        t1 = time.perf_counter()
        warm_up(self.spark, cpus)
        self.setup_s = time.perf_counter() - t0
        log(f"session up in {self.setup_s:.2f}s (JVM {t1 - t0:.2f}s)")
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for it and its Python workers
        to exit."""
        from pyspark import SparkContext

        from perfbench.procmem import tree, wait_gone

        pids = tree(self.jvm_pid)
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            proc.stdin.close()  # the JVM exits on EOF from its driver
            proc.wait(timeout=60)
        left = wait_gone(pids)
        if left:
            raise RuntimeError(f"processes still running after stop: {left}")


def iterations(wl, seconds: float) -> int:
    """How many timed iterations fill ``seconds``. Fixed by the workload's
    nominal iteration time rather than by the clock: iterations keep
    getting faster as the JIT warms, so a clock-bounded loop would make the
    median depend on how many iterations a run happened to fit."""
    return max(1, round(seconds / wl.nominal_s))


def measure(wl, spark, tracer, seconds: float, rss=None) -> list:
    """One untimed warm-up iteration (the first run of a plan pays class
    loading, codegen and JIT), then ``iterations(wl, seconds)`` timed
    ones."""
    tracer.prefix = "warm:"
    t0 = time.perf_counter()
    wl.iterate(spark, tracer)
    log(f"warm-up iteration {time.perf_counter() - t0:.2f}s")
    tracer.spans.clear()
    if rss is not None:
        rss.reset()
    its = []
    for k in range(iterations(wl, seconds)):
        tracer.prefix = f"it{k}:"
        its.append(wl.iterate(spark, tracer))
    log(f"{len(its)} iterations, wall_s {[round(i['wall_s'], 3) for i in its]}")
    return its


def cpu_ticks() -> tuple:
    """(busy, steal) jiffies of the whole machine from /proc/stat; steal is
    time the hypervisor gave other guests while this one had work."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:3]) + sum(f[5:7]), f[7]


def untraced(wl, confs: dict, cpus: int, seconds: float) -> tuple:
    from perfbench.procmem import PeakRss
    from perfbench.workloads import Tracer

    s = Session(confs, cpus)
    with PeakRss(s.jvm_pid) as rss:
        busy0, steal0 = cpu_ticks()
        its = measure(wl, s.spark, Tracer(False), seconds, rss)
        busy1, steal1 = cpu_ticks()
    s.stop()
    files, mb = wl.output_stats()
    wall = statistics.median(it["wall_s"] for it in its)
    metrics = {
        "setup_s": s.setup_s,
        "wall_s": wall,
        "docs_per_s": wl.size / wall,
        "peak_rss_mb": rss.peak / 1e6,
        "output_files": float(files),
        "output_mb": mb,
    }
    steal = steal1 - steal0
    return metrics, {
        "iterations": its,
        "memory_at_peak": rss.at_peak,
        "steal_frac": steal / max(1, busy1 - busy0 + steal),
    }


def _median_of(dicts: list) -> dict:
    keys = {k for d in dicts for k in d}
    return {k: statistics.median(d.get(k, 0.0) for d in dicts) for k in sorted(keys)}


def traced(wl, confs: dict, cpus: int, seconds: float) -> tuple:
    from perfbench import eventlog, micro
    from perfbench.workloads import Tracer

    base, base_detail = untraced(wl, confs, cpus, seconds / 2)

    log_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    tracer = Tracer(True)
    s = Session(confs, cpus, event_log=log_dir)
    its = measure(wl, s.spark, tracer, seconds / 2)
    tracer.prefix = "probe:"
    probe = wl.probe(s.spark, tracer)
    s.stop()

    by_label = eventlog.by_label(eventlog.executions(eventlog.read_events(log_dir)))
    layers = []
    for k, it in enumerate(its):
        group = [
            ex for step in wl.timed_steps for ex in by_label.get(f"it{k}:{step}", ())
        ]
        m = eventlog.layer_metrics(group)
        m.update({key: v for key, v in it.items() if key != "wall_s"})
        layers.append(m)
    metrics = _median_of(layers)
    metrics.update(probe)
    metrics.update(wl.derived(metrics, by_label))

    kernel = micro.kernel_metrics(wl.kernel_sample())
    metrics.update(kernel)
    if wl.kernel_bound:
        metrics["job.ceiling_frac"] = base["docs_per_s"] / (
            cpus * 1e6 / kernel["kernel.extract_record_us"]
        )

    self_ms = tracer.self_ms()
    traced_wall = statistics.median(it["wall_s"] for it in its)

    def span_ms(name: str) -> float:
        """median self time of the spans called ``name`` per iteration
        (or per probe)"""
        per = self_ms.get(name)
        return statistics.median(per.values()) if per else 0.0

    metrics.update({
        "trace.overhead_s": traced_wall - base["wall_s"],
        "trace.overhead_frac": traced_wall / base["wall_s"] - 1.0,
        "trace.setup_s": s.setup_s,
        "trace.plan_build_self_ms": span_ms("plan_build"),
        "trace.action_self_ms": span_ms("action"),
        "trace.check_self_ms": span_ms("check"),
    })
    detail = {
        "untraced": {"metrics": base, **base_detail},
        "traced_iterations": its,
        "spans": tracer.spans,
        "executions": {
            label: [ex.execution_id for ex in group] for label, group in by_label.items()
        },
    }
    return base, metrics, detail


def _versions() -> dict:
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ankiocr_spark", "__init__.py")):
        print(f"perfbench: no ankiocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    confs = confine(WORK)
    cpus = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](WORK, args.seed)
    t0 = time.perf_counter()
    wl.prepare()
    log(f"inputs ready in {time.perf_counter() - t0:.2f}s")

    if args.trace:
        e2e, layers, detail = traced(wl, confs, cpus, args.seconds)
        wanted = spec["per_layer"]
        values = {m["name"]: layers.get(m["name"], 0.0) for m in wanted}
        detail["not_applicable"] = sorted(m["name"] for m in wanted if m["name"] not in layers)
    else:
        e2e, detail = untraced(wl, confs, cpus, args.seconds)
        wanted = spec["end_to_end"]
        values = {m["name"]: e2e[m["name"]] for m in wanted}

    env = {"cpus": cpus, **_versions()}
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, **env,
        "metrics": {m["name"]: [round(e2e[m["name"]], 4), m["unit"]] for m in spec["end_to_end"]},
    }
    if args.trace:
        summary["trace_overhead_s"] = round(layers["trace.overhead_s"], 4)
    detail_dir = os.path.join(WORK, "detail")
    os.makedirs(detail_dir, exist_ok=True)
    detail_path = os.path.join(
        detail_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(detail_path, "w") as fh:
        json.dump({**summary, "per_layer": layers if args.trace else None,
                   "attempted": wl.attempted, "failed": wl.failed, **detail},
                  fh, indent=1, default=str)
    print(json.dumps(summary, separators=(",", ":")))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

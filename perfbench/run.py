"""liblevenshtein_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload linkage-batch --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end metrics
named in BENCHMARK.json; ``--trace 1`` makes the separate traced run that
yields the per-layer metrics. Each run prints a report line, then, as its
last line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. Spans, the per-layer table and the report are also written to
``.perfbench_work/results/``. The exit code is 0 only when every output
check passed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
# Five timed operations at least (their median counts), after the
# workload's untimed warm-ups (Workload.warmup_ops).
MIN_OPS = 5
# Implemented and smoke-tested, but left out of BENCHMARK.json: a full
# parent-versus-change comparison makes about 22 runs of every listed
# workload within an hour, and a Spark start plus the warm-up operations
# cost 25-50 s of each run on a 4-core host. linkage-batch's traced run
# also traces a stream-linkage leg, so the streaming layer is still measured.
UNGATED = ["pair-scoring", "stream-linkage"]
JOB_LATENCY_SAMPLES = 10
HEAP_SHARE_OF_RAM = 0.25
UNITS = {"setup_s": "s", "work_per_cpu_s": "1/cpu-s", "op_cpu_ms": "cpu-ms",
         "work_per_s": "1/s", "op_p50_ms": "ms", "op_tail_ms": "ms",
         "recall": "ratio", "error_rate": "ratio", "peak_rss_mb": "MB"}


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc (clock-tick precision)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return kb // 1024


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it (the 11th
    largest value), named; with ten or fewer samples no percentile has that
    many beyond it, and the maximum is reported instead."""
    xs = sorted(values)
    n = len(xs)
    if n > 10:
        return xs[n - 11], f"p{100 * (n - 10) / n:.1f} of {n}"
    return xs[-1], f"max of {n} (fewer than 11 samples)"


class Run:
    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        tag = f"{args.workload}-s{args.seed}-t{args.trace}"
        base = os.path.join(ROOT, ".perfbench_work")
        self.work = os.path.join(base, tag)
        self.results = os.path.join(base, "results")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        os.makedirs(self.results, exist_ok=True)


def main(argv=None) -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (smoke tests use < 1)")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names + UNGATED:
        ap.error(f"--workload must be one of {names + UNGATED}")
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import liblevenshtein_spark
    except ImportError as e:
        print(f"perfbench: the package under test is missing: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(liblevenshtein_spark.__file__)) != ROOT:
        print(f"perfbench: imported {liblevenshtein_spark.__file__}, not the copy in "
              f"{ROOT}", file=sys.stderr)
        return 2

    run = Run(args)
    # Everything the session, the JVM and the Python workers write goes
    # under the run's work dir; TMPDIR must be set before the package's
    # session module builds its --py-files zip.
    os.environ["TMPDIR"] = os.path.join(run.work, "tmp")

    import pyarrow
    import pyspark

    import checks
    import inputs
    import tracing
    import workloads
    from liblevenshtein_spark.session import build_session

    nproc = len(os.sched_getaffinity(0))
    sampler = tracing.RssSampler().start()
    heap_mb = int(mem_total_mb() * HEAP_SHARE_OF_RAM)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": os.path.join(run.work, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run.work, 'tmp')}",
    }
    log_dir = os.path.join(run.work, "eventlog")
    if run.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    wl_class = workloads.WORKLOADS[args.workload]
    spark = build_session(app_name=f"perfbench-{args.workload}",
                          master=f"local[{nproc}]",
                          shuffle_partitions=wl_class.partitions_per_core * nproc,
                          extra_conf=conf)
    session_start_s = time.time() - t_proc
    run.spark = spark
    run.nproc = nproc
    run.sizes = inputs.Sizes().scaled(args.scale)
    run.tracer = tracing.Tracer(spark.sparkContext, run.trace)
    wl = wl_class(run)

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "host": {"nproc": nproc, "ram_mb": mem_total_mb(), "driver_heap_mb": heap_mb,
                 "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                 "java": spark.sparkContext._jvm.System.getProperty("java.version"),
                 "python": sys.version.split()[0]},
    }
    metrics: dict[str, float] = {}
    layers: dict[str, float] = {}
    ops: list[dict] = []
    try:
        stage_s, digests = [], []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            digests.append(wl.stage())
            stage_s.append(time.perf_counter() - t0)
        wl.check(checks.check_same("input digest across set-ups", digests))
        report["inputs"] = dict(wl.sizes(), digest=digests[0])
        warmup_s = []
        for _ in range(wl.warmup_ops):
            t0 = time.perf_counter()
            wl.op()
            warmup_s.append(time.perf_counter() - t0)
        setup_s = session_start_s + statistics.median(stage_s) + sum(warmup_s)
        report["setup"] = {"session_start_s": session_start_s, "stage_s": stage_s,
                           "warmup_s": warmup_s}
        # seconds since process start at the end of each phase, for the
        # time budget of a full comparison
        marks = report["marks_s"] = {"setup": time.time() - t_proc}

        if run.trace:
            plain = wl.op()
            ops.append(plain)
            layers = wl.traced(plain["s"])
        else:
            # At least MIN_OPS operations; after that, start another only
            # if it is expected to finish within --seconds.
            steal0 = cpu_ticks()
            t0 = time.perf_counter()
            more = getattr(wl, "more", lambda: True)
            while more() and (len(ops) < MIN_OPS or time.perf_counter() - t0
                              + statistics.median(o["s"] for o in ops) <= args.seconds):
                ops.append(wl.op())
            steal1 = cpu_ticks()
            report["steal_share"] = ((steal1[0] - steal0[0])
                                     / max(steal1[1] - steal0[1], 1))
        job_lat = []
        for _ in range(JOB_LATENCY_SAMPLES):
            t0 = time.perf_counter()
            spark.range(0, 1, 1, 1).count()
            job_lat.append((time.perf_counter() - t0) * 1e3)
        report["session_job_latency_ms"] = statistics.median(job_lat)
        marks["timed"] = time.time() - t_proc
        named = wl.finish(ops)
        report["named"] = named
        marks["checks"] = time.time() - t_proc

        lat = [o["s"] for o in ops]
        tail_v, tail_name = tail(lat)
        cpu = [o["cpu_s"] for o in ops]
        report["ops"] = {"count": len(ops), "seconds": lat, "cpu_seconds": cpu,
                         "jit_cpu_seconds": [o["jit_s"] for o in ops],
                         "work_unit": wl.work_unit, "tail_ms": tail_v * 1e3, "tail": tail_name}
        metrics = {
            "setup_s": setup_s,
            "work_per_cpu_s": wl.cpu_rate(ops),
            "op_cpu_ms": statistics.median(cpu) * 1e3,
            "work_per_s": wl.rate(ops),
            "op_p50_ms": statistics.median(lat) * 1e3,
            "recall": named["recall"],
        }
    except Exception:
        traceback.print_exc()
        run.attempted += 1
        run.failed += 1
        run.problems.append("exception: " + traceback.format_exc().strip().splitlines()[-1])
    finally:
        try:
            wl.stop()
        except Exception:
            traceback.print_exc()
        if run.trace:
            layers["session.start_s"] = session_start_s
            layers["session.job_latency_ms"] = report.get("session_job_latency_ms", 0.0)
            stream_groups = wl.stream_groups()
        tracing.stop_spark(spark, sampler.seen)
        peak_mb = sampler.stop()
        report.setdefault("marks_s", {})["stopped"] = time.time() - t_proc
        report["peak_rss_parts_mb"] = sampler.peak_parts

    if run.trace and not run.failed:
        try:
            evlog = tracing.fold_event_log(tracing.event_log_file(log_dir), stream_groups)
        except (OSError, ValueError, RuntimeError):
            traceback.print_exc()
            run.attempted += 1
            run.failed += 1
            run.problems.append("event log could not be folded")
        else:
            layers.update(tracing.layer_totals(evlog, layers))
    metrics["peak_rss_mb"] = peak_mb

    if run.trace:
        wanted = spec["per_layer"]
        values = {m["name"]: float(layers.get(m["name"], 0.0)) for m in wanted}
    else:
        wanted = spec["end_to_end"]
        values = {m["name"]: float(metrics.get(m["name"], 0.0)) for m in wanted}
    out_metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    report["error_rate"] = run.failed / run.attempted if run.attempted else 1.0
    report["named_metrics"] = named_metrics(wl, metrics, report)
    report["problems"] = run.problems
    result = {"correct": not run.failed and bool(run.attempted),
              "attempted": run.attempted, "failed": run.failed, "metrics": out_metrics}

    with open(os.path.join(run.results, f"{os.path.basename(run.work)}.json"), "w") as f:
        json.dump({"report": report, "result": result, "spans": run.tracer.spans}, f, indent=1)
    shutil.rmtree(run.work, ignore_errors=True)

    print_report(report)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def named_metrics(wl, metrics: dict, report: dict) -> dict:
    """The end-to-end figures under the workload's own names, with units;
    the last line carries the same numbers under names every workload
    shares."""
    if "work_per_s" not in metrics:
        return {}
    values = dict(metrics, error_rate=report["error_rate"])
    if "op_tail_ms" in wl.aliases:
        values["op_tail_ms"] = report["ops"]["tail_ms"]
    named = {wl.aliases.get(k, k): {"value": v, "unit": UNITS[k]} for k, v in values.items()}
    named.update(report["named"].get("extra", {}))
    return named


def print_report(report: dict) -> None:
    print(f"perfbench {report['workload']} seed={report['seed']} trace={report['trace']} "
          f"host={json.dumps(report['host'])}")
    print(f"inputs {json.dumps(report.get('inputs', {}))}")
    if "ops" in report:
        o = report["ops"]
        print(f"ops {o['count']} tail {o['tail']}: {o['tail_ms']:.1f} ms")
    for k, v in report.get("named_metrics", {}).items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    for p in report["problems"]:
        print(f"CHECK FAILED: {p}")


if __name__ == "__main__":
    sys.exit(main())

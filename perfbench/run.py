"""Run one benchmark workload and print its metrics as one JSON line.

Usage::

    python3 perfbench/run.py --workload envelope_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. The run

1. generates its inputs from ``--seed`` under ``.perfbench_work/``
   (removed at exit) and derives the expected result of every op;
2. sets up once — JVM and SparkSession start, engine set-up and
   ``WARMUP_OPS`` untimed ops — and reports the time from process
   start to the first timed op, less input generation, as ``setup_s``;
3. records the host-load sentinel, runs timed ops for ``--seconds``
   (at least one), checking each op's result, and records the sentinel
   again;
4. with ``--trace 1`` also writes Spark's event log, keeps spans around
   every engine call, runs the per-layer probes and reports the
   ``per_layer`` metrics of ``BENCHMARK.json`` instead of the
   ``end_to_end`` ones. Spans land in ``.perfbench_work/traces/``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
The exit code is 1 when any op returned a wrong result, 2 when the
engine package is missing.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# a fresh JVM's ops keep getting faster for a few ops while the Python
# workers start and the JIT warms up; untimed warm-up ops bring the timed
# ops to steady state
WARMUP_OPS = 3


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _start_session(conf: dict):
    from redshift_avro_spark.session import get_spark

    cpus = min(4, len(os.sched_getaffinity(0)))
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def _run(args, work: str) -> int:
    from perfbench import obs, probes
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    tracer = obs.Tracer(bool(args.trace))
    workload = WORKLOADS[args.workload](tracer.span)

    with tracer.span("prepare"):
        _, prepare_s = obs.timed(workload.prepare, args.seed, work)
    gc.collect()

    event_dir = os.path.join(work, "eventlog")
    conf = {
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}"
        ),
    }
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
            }
        )

    with tracer.span("setup.session"):
        spark, session_start_s = obs.timed(_start_session, conf)
    sc = spark.sparkContext
    sc.setJobGroup("setup", "set-up")
    with tracer.span("setup.program"):
        workload.setup(spark)
    for k in range(WARMUP_OPS):
        with tracer.span("setup.warmup", op=f"warmup-{k}"):
            if not workload.op(spark):
                raise AssertionError(f"{workload.name}: warm-up op returned a wrong result")
    setup_s = time.perf_counter() - _T_START - prepare_s

    sentinel_before = obs.sentinel(spark)
    sampler = obs.ProcSampler()
    gc.collect()
    sampler.start()
    durations, results = [], []
    t_phase = time.perf_counter()
    while not durations or time.perf_counter() - t_phase < args.seconds:
        op_id = f"op-{len(durations)}"
        sc.setJobGroup(op_id, f"{workload.name} {op_id}")
        with tracer.span("op", op=op_id):
            t0 = time.perf_counter()
            try:
                ok = workload.op(spark)
            except Exception:
                traceback.print_exc()
                ok = False
            durations.append(time.perf_counter() - t0)
        results.append(ok)
    sampler.stop()
    sentinel_after = obs.sentinel(spark)

    diagnostics = {"sentinel_before": sentinel_before, "sentinel_after": sentinel_after}
    n_ops = len(durations)
    failed = results.count(False)
    values = {
        "setup_s": setup_s,
        "records_per_s": workload.records * n_ops / sum(durations),
        "op_p50_ms": statistics.median(durations) * 1e3,
        "py_peak_rss_mb": sampler.py_peak / 2**20,
    }
    samples = {"setup_s": 1, "records_per_s": n_ops, "op_p50_ms": n_ops,
               "py_peak_rss_mb": sampler.samples}

    if args.trace:
        cells, cells_dir = probes.probe_cells(args.seed, work)
        with tracer.span("probe.avroio"):
            values.update(probes.avroio_probes(args.seed))
        with tracer.span("probe.envelopes"):
            values.update(probes.envelope_probes(args.seed, cells))
        with tracer.span("probe.spark"):
            values.update(probes.spark_probes(spark, args.seed, work, cells_dir, tracer.span))
    app_id = sc.applicationId
    _stop_jvm(spark)

    if args.trace:
        ops = [f"op-{i}" for i in range(n_ops)]
        per_op = obs.stage_metrics(event_dir, app_id, ops)
        for key in ("jobs", "stages", "tasks", "executor_run_s", "gc_s", "shuffle_write_mb", "spill_mb"):
            values[f"session.{key}"] = obs.median_of(per_op, key)
        # reads 0 unless an op spills, so it is reported, never compared
        diagnostics["session.spill_mb"] = values.pop("session.spill_mb")
        values.update(
            {
                "session.start_s": session_start_s,
                "session.jvm_peak_rss_mb": sampler.jvm_peak / 2**20,
                "session.python_workers": sampler.workers_peak,
                "trace.records_per_s": values["records_per_s"],
            }
        )
        tracer.write(
            os.path.join(ROOT, ".perfbench_work", "traces", f"{args.workload}-seed{args.seed}.jsonl"),
            {"workload": args.workload, "seed": args.seed, "app_id": app_id, "setup_s": setup_s,
             "op_s": durations, **diagnostics},
        )

    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[kind]}
    for name, m in metrics.items():
        n = samples.get(name, 1)
        print(f"# {args.workload} {name} = {m['value']:.6g} {m['unit']} (samples={n})")
    print(f"# diagnostics {diagnostics}")
    print(f"# ops s {[round(d, 3) for d in durations]}")
    print(json.dumps({"correct": failed == 0, "attempted": n_ops, "failed": failed, "metrics": metrics}))
    return 1 if failed else 0


def main() -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # everything the engine, Spark and its Python workers write stays here
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tempfile.tempdir = None
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "redshift_avro_spark")):
        _log("the engine package redshift_avro_spark is not in this checkout")
        sys.exit(2)
    sys.exit(main())

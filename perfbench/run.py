"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pages_heatmap --seed 1 --seconds 10 --trace 0

One Python process runs the engine at local[nproc], one job at a time
(closed loop, one client), for --seconds after set-up. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics; --trace 1 reports the per-layer
metrics from traced jobs, interleaved with untraced ones to state the
tracing overhead. Spans and the full run record are written to
.perfbench_out/ in the checkout at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SETUP_REPS = 3
HEAP = "2g"


def _declared_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _spark_failures(sc, after_job: int) -> tuple[int, int]:
    """(failed tasks + failed stages, newest job id) over jobs after
    `after_job`, from Spark's status store."""
    jvm = sc._jvm
    jobs = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        sc._jsc.sc().statusStore().jobsList(None))
    bad, newest = 0, after_job
    for j in jobs:
        if j.jobId() > after_job:
            bad += j.numFailedTasks() + j.numFailedStages()
            newest = max(newest, j.jobId())
    return bad, newest


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers under
    it) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail fast, before any work, when the engine is not importable
    import osm_pt_validator_spark.sources.pages  # noqa: F401  (reloaded on restart)
    from osm_pt_validator_spark.session import ensure_py_files, get_spark
    from pyspark import SparkContext

    from perfbench import ledger, procstat
    from perfbench.trace import Tracer, dump
    from perfbench.workloads import WORKLOADS, CountingProbe, PlainProbe, TracedProbe

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    end_to_end, per_layer = _declared_units()
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{run_id}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in ("in", "tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # A fixed, pre-touched heap: heap sizing heuristics would otherwise make
    # resident memory drift from run to run.
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch "
                                         "-XX:-UseDynamicNumberOfCompilerThreads "
                                         f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }

    w = WORKLOADS[args.workload]()
    w.cores = cores
    record = {"workload": w.name, "seed": args.seed, "cores": cores, "trace": args.trace}
    spark = None
    correct = True
    try:
        t = time.perf_counter()
        record["inputs"] = w.generate(os.path.join(work, "in"), args.seed)
        gen_s = time.perf_counter() - t

        reps = []
        for k in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
                # a module-level pandas_udf caches its JVM function, which holds
                # the stopped context's accumulator; rebuild it for the new one
                importlib.reload(sys.modules["osm_pt_validator_spark.sources.pages"])
            t0 = time.perf_counter()
            spark = get_spark("perfbench", cores=cores, extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            ensure_py_files(spark)
            t2 = time.perf_counter()
            if k == 0:  # the expectation is computed outside any timed phase
                w.expect()
                expect_s = time.perf_counter() - t2
            t3 = time.perf_counter()
            res = w.job(spark, f"warm{k}", PlainProbe())
            correct &= bool(w.check(res))
            w.cleanup(f"warm{k}")
            reps.append((t1 - t0, t2 - t1, time.perf_counter() - t3))
        record["setup"] = {"gen_s": gen_s, "reps": reps, "expect_s": expect_s}
        setup_s = gen_s + median(sum(r) for r in reps)

        sc = spark.sparkContext
        jvm_pid = SparkContext._gateway.proc.pid
        selftest = ledger.self_test(spark, work) if args.trace else None
        _, last_job = _spark_failures(sc, -1)
        samples, traced, layer_runs, tracers = [], [], [], []
        counter = CountingProbe(sc)
        deadline = time.perf_counter() + args.seconds
        i = 0
        while i < w.MIN_JOBS or time.perf_counter() < deadline:
            tracing = bool(args.trace) and i % 2 == 1
            tracer = Tracer(sc, f"{run_id}-{i}") if tracing else None
            probe = TracedProbe(spark, tracer) if tracing else (
                counter if args.trace else PlainProbe())
            ok, res = False, None
            cpu0, jit0 = procstat.cpu_s(jvm_pid), procstat.jit_cpu_s(jvm_pid)
            with procstat.PeakRss(jvm_pid) as peak:
                t = time.perf_counter()
                try:
                    res = w.job(spark, i, probe)
                    ok = bool(w.check(res))
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                dt = time.perf_counter() - t
            jit = procstat.jit_cpu_s(jvm_pid) - jit0
            cpu = procstat.cpu_s(jvm_pid) - cpu0 - jit
            bad, last_job = _spark_failures(sc, last_job)
            if tracing:
                try:
                    layer_runs.append(w.layer_metrics(spark, probe, i, res))
                finally:
                    probe.release()
                tracers.append(tracer)
                traced.append(dt)
            w.cleanup(i)
            samples.append({"job_s": dt, "cpu_s": cpu, "jit_cpu_s": jit,
                            "peak_rss_mb": peak.peak / 2**20,
                            "ok": ok, "spark_failures": bad, "traced": tracing,
                            "persistent_rdds": sc._jsc.getPersistentRDDs().size()})
            i += 1

        plain = [s for s in samples if not s["traced"]]
        failed = sum(1 for s in samples if not s["ok"] or s["spark_failures"])
        correct &= failed == 0
        job_s = median(s["job_s"] for s in plain)
        metrics = {
            "setup_s": setup_s,
            "job_s": job_s,
            "rows_per_s": w.rows / job_s,
            "cpu_s": median(s["cpu_s"] for s in plain),
            "peak_rss_mb": median(s["peak_rss_mb"] for s in plain),
        }
        units = end_to_end
        if args.trace:
            layer = {k: 0.0 for k in per_layer}
            for k in layer_runs[0] if layer_runs else ():
                layer[k] = median(r[k] for r in layer_runs)
            layer.update({
                "session.start_s": median(r[0] for r in reps),
                "session.py_files_s": median(r[1] for r in reps),
                "session.warmup_s": median(r[2] for r in reps),
                "session.persistent_rdds": float(plain[-1]["persistent_rdds"]),
                "jvm.jit_cpu_s": median(s["jit_cpu_s"] for s in plain),
                "trace.job_s": median(traced),
                "trace.overhead_s": median(traced) - job_s,
                "ledger.selftest_ok": float(selftest),
                "run.failed_frac": failed / len(samples),
                "jobs.main.spark_jobs": counter.jobs["jobs.main"] / len(plain),
                "input.defects": float(sum(record["inputs"].get("defects", {}).values())),
            })
            correct &= bool(selftest)
            metrics, units = layer, per_layer
        if metrics.keys() != units.keys():
            raise RuntimeError(f"metrics differ from BENCHMARK.json: {metrics.keys() ^ units.keys()}")
        record.update(samples=samples, metrics=metrics)
        with open(os.path.join(out_dir, f"run-{run_id}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
        if tracers:
            dump(tracers, os.path.join(out_dir, f"spans-{run_id}.jsonl"))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"inputs: {json.dumps(record['inputs'], default=str)}")
    print(f"jobs: {len(plain)} untraced" + (f", {len(traced)} traced" if args.trace else ""))
    for k, v in metrics.items():
        note = f" (median of {len(plain)} jobs)" if k == "job_s" else ""
        print(f"{k} = {v:.6g} {units[k]}{note}")
    print(f"failed_frac = {failed / len(samples):.6g} ratio ({failed} of {len(samples)} jobs)")
    print(json.dumps({
        "correct": bool(correct),
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

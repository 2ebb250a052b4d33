#!/usr/bin/env python3
"""Benchmark entry point: one workload in one fresh process.

    python3 perfbench/run.py --workload scene_toa --seed 1 --seconds 10 --trace 0

Run from the repository root. The process is the Spark driver of a
``local[nproc]`` session with the engine's default settings, and the
only client: it submits each job after the previous one returned (a
closed loop). One pass runs the workload's job list once in a fixed
order; a discarded warm-up pass comes first, then a fixed number of
timed passes per workload (``--seconds`` is accepted but does not
change it). Every job's output is checked against expectations
generated with the inputs.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json;
``--trace 1`` runs every job once plain and once traced, interleaved,
and prints the per-layer metrics; one that applies to the workload but
is missing (or zero where it cannot be) fails the run. The last line
of stdout is one JSON object.
See perfbench/README.md.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, procstat  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
CACHE = os.path.join(ROOT, ".perfbench_cache")


def _isolate_scratch() -> int:
    """Point every scratch location at the checkout and size the
    session to this machine (SPARK_GRAFT_CPUS = nproc)."""
    cpus = len(os.sched_getaffinity(0))
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "out"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # no hsperfdata file: the JVM would write it under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-Djava.io.tmpdir=%s -XX:-UsePerfData" % os.path.join(WORK, "tmp")
    return cpus


class Runner:
    """Runs passes of one workload's jobs and keeps their timings."""

    def __init__(self, spark, jobs, d, expect, reader=None):
        from perfbench.workloads import Ctx

        self.spark, self.jobs, self.reader = spark, jobs, reader
        self.ctx = Ctx(spark, d, expect, os.path.join(WORK, "out", "job"))
        self.attempted = self.failed = 0
        self.check_s = 0.0
        self.pid = os.getpid()
        self.job_walls: dict[str, list[float]] = {j.name: [] for j in jobs}

    def run_job(self, job, tag: str, traced: bool = False):
        """Run, time and check one job -> (wall s, cpu s, CallTrace when
        traced)."""
        from perfbench.trace import CallTrace

        sc = self.spark.sparkContext
        shutil.rmtree(self.ctx.out, ignore_errors=True)
        group = "perfbench-%s-%s" % (tag, job.name)
        if traced:
            self.reader.new_executions()  # drain anything earlier
            sc.setJobGroup(group, job.name)
        self.attempted += 1
        c0 = procstat.tree_cpu_s(self.pid)
        start = time.time()
        t0 = time.perf_counter()
        try:
            result, plan_s = job.run(self.ctx)
            error = None
        except Exception:  # a failed job is counted, the run goes on
            result, plan_s, error = None, None, traceback.format_exc()
        wall = time.perf_counter() - t0
        cpu = procstat.tree_cpu_s(self.pid) - c0
        self.job_walls[job.name].append(wall)
        call = None
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            call = CallTrace(job.name, job.layer, start, wall, plan_s)
            call.executions = self.reader.new_executions()
            call.jobs, call.failed_tasks = self.reader.job_stats(group)
        if error is None:
            t0 = time.perf_counter()
            try:
                error = job.check(self.ctx, result)
            except Exception:
                error = "check raised:\n" + traceback.format_exc()
            self.check_s += time.perf_counter() - t0
        if error is not None:
            self.failed += 1
            print("FAILED %s (pass %s): %s" % (job.name, tag, error), file=sys.stderr)
        shutil.rmtree(self.ctx.out, ignore_errors=True)
        return wall, cpu, call

    def run_pass(self, tag: str) -> tuple[float, float]:
        """One plain pass -> (wall s, cpu s), summed over its jobs."""
        walls, cpus, _ = zip(*(self.run_job(job, tag) for job in self.jobs))
        return sum(walls), sum(cpus)


def _setup_session(cpus: int) -> tuple:
    """pyspark import, session, first JVM job, first Python-worker job
    (one task per core, so every worker process is spawned)."""
    t0 = time.perf_counter()
    from rio_toa_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    spark.range(cpus * 4, numPartitions=cpus).mapInArrow(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    t3 = time.perf_counter()
    return spark, {
        "session.get_spark_s": t1 - t0,
        "session.first_job_s": t2 - t1,
        "session.worker_warm_s": t3 - t2,
    }


def _stop(spark) -> None:
    """Stop the session, shut the JVM down and wait for every process
    this run started (JVM, Python worker daemon, workers) to end."""
    from pyspark import SparkContext

    started = [p for p in procstat.descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    procstat.wait_gone(started)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the common interface; the timed pass count is fixed
    # per workload (workloads.PASSES) so every commit times the same passes
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    from perfbench.workloads import PASSES, WORKLOADS, untraced

    if args.workload not in WORKLOADS:
        ap.error("unknown workload %r (have %s)" % (args.workload, ", ".join(WORKLOADS)))
    cpus = _isolate_scratch()

    # untimed input step: generate (or reuse) this seed's inputs, then
    # flush and read them so the page cache is warm and clean
    t_in = procstat.process_age_s()
    d, expect = inputs.prepare(CACHE, args.workload, args.seed)
    inputs.warm(d)
    input_s = procstat.process_age_s() - t_in

    spark, session = _setup_session(cpus)
    setup_s = procstat.process_age_s() - input_s

    jobs = WORKLOADS[args.workload]()
    reader = None
    if args.trace:
        from perfbench.trace import StoreReader, function_layers, layer_metrics

        reader = StoreReader(spark)
        index = function_layers()
    runner = Runner(spark, jobs, d, expect, reader)
    t_w = time.perf_counter()
    runner.run_pass("warmup")
    warmup_s = time.perf_counter() - t_w

    plain: list[tuple[float, float]] = []  # (wall, cpu) per timed pass
    steal0, total0 = procstat.cpu_ticks()
    if args.trace:
        # one plain and one traced run of every job, in alternating order
        # so that the order of the two cannot bias the tracing overhead
        runs = {False: [], True: []}
        calls = []
        for k, job in enumerate(jobs):
            for is_traced in (False, True) if k % 2 == 0 else (True, False):
                wall, cpu, call = runner.run_job(job, "t%d" % is_traced, is_traced)
                runs[is_traced].append((wall, cpu))
                if call is not None:
                    calls.append(call)
        plain.append(tuple(map(sum, zip(*runs[False]))))
        traced_wall = sum(w for w, _ in runs[True])
    else:
        plain = [runner.run_pass(str(i)) for i in range(PASSES[args.workload])]
    steal1, total1 = procstat.cpu_ticks()
    steal_frac = (steal1 - steal0) / max(total1 - total0, 1)
    rss = procstat.peak_rss_by_name(os.getpid())
    peak_rss_mb = sum(sum(v) for v in rss.values())
    python_peak_rss_mb = sum(sum(v) for k, v in rss.items() if k.startswith("python"))

    import bench  # the frozen harness's host-noise sentinel

    sentinel_s = bench._sentinel_sample()

    values: dict[str, float] = {}
    if args.trace:
        from perfbench.driver_calls import driver_metrics, pip_candidates

        values.update(layer_metrics(calls, index))
        values.update(session)
        values.update(driver_metrics(args.seed))
        if "spatial_join.pip_join.refined_rows" in values:
            cand = pip_candidates(
                spark, os.path.join(d, "pages.parquet"), os.path.join(d, "scenes.parquet"), inputs.PIP_LEVEL
            )
            values["spatial_join.pip_join.candidate_rows"] = cand
            refined = values["spatial_join.pip_join.refined_rows"]
            values["spatial_join.pip_join.refine_ratio"] = refined / cand if cand else 0.0
        values["trace_overhead_s"] = traced_wall - plain[0][0]
        values["peak_rss_mb"] = peak_rss_mb
        values["spark.jvm_peak_rss_mb"] = sum(rss.get("java", []))
        values["host.sentinel_s"] = sentinel_s
        values["host.steal_frac"] = steal_frac
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": _median([w for w, _ in plain]),
            "cpu_s_per_pass": _median([c for _, c in plain]),
            "python_peak_rss_mb": python_peak_rss_mb,
            "ok_frac": 1.0 - runner.failed / runner.attempted,
        }
        wanted = spec["end_to_end"]
    t_s = time.perf_counter()
    _stop(spark)
    print("phases: input %.1f s, setup %.1f s, warm-up %.1f s, checks %.1f s, stop %.1f s, total %.1f s"
          % (input_s, setup_s, warmup_s, runner.check_s, time.perf_counter() - t_s, procstat.process_age_s()), file=sys.stderr)

    print(
        "workload=%s seed=%d local[%d] trace=%d input_s=%.2f passes=%d plain%s + 1 warm-up"
        % (
            args.workload,
            args.seed,
            cpus,
            args.trace,
            input_s,
            len(plain),
            " / 1 traced (interleaved)" if args.trace else "",
        )
    )
    for k in ("session.get_spark_s", "session.first_job_s", "session.worker_warm_s"):
        print("  %-22s %.3f s" % (k, session[k]))
    print("  %-22s %.2f s (n=%d passes)" % ("pass_s", _median([w for w, _ in plain]), len(plain)))
    for name, walls in runner.job_walls.items():
        print("  %-30s warm-up %.3f s, timed %s s" % (name, walls[0], " ".join("%.3f" % w for w in walls[1:])))
    print("  failed_frac            %d/%d jobs" % (runner.failed, runner.attempted))
    print("  peak RSS by process: %s" % ", ".join(
        "%s %d MB (x%d)" % (k, sum(v), len(v)) for k, v in sorted(rss.items())))
    print("  host noise (not gated): sentinel %.4f s, steal %.2f%% of CPU time" % (sentinel_s, 100 * steal_frac))
    missing = untraced(args.workload, [m["name"] for m in wanted], values) if args.trace else []
    for name in missing:
        print("MISSING per-layer metric %s: %r" % (name, values.get(name)), file=sys.stderr)
    metrics = {}
    for m in wanted:
        v = float(values.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print("  %-44s %.6g %s" % (m["name"], v, m["unit"]))
    print(
        json.dumps(
            {
                "correct": runner.failed == 0 and not missing,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

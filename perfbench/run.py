"""Repository benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload extract_resume --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The workloads, their corpus sizes and
iteration counts are in ``perfbench/workloads.py`` (``WORKLOADS``). A run is
one closed-loop client:

1. The single-core kernel probe (``perfbench/probe.py``), a record of how
   busy the box is.
2. If the seed's inputs are not cached yet, they are generated in a session
   of their own, untimed.
3. A local[4] session in a fresh JVM; its start time is ``setup_s``. For a
   warm workload, one untimed warm-up iteration; then the workload's fixed
   number of timed iterations, each checked outside its timed window, with
   the peak memory of the process tree sampled during each.
4. ``--trace 1`` only: the same iterations again (at most
   ``LEG_ITERATIONS``) in a session with the uncompressed Spark event log
   on (a restart in the warm JVM for a warm workload, a fresh JVM for a
   cold one); they give the per-layer figures,
   and their job time minus the untraced one is ``trace.overhead_s``. For a
   workload with a scaling leg, a local[1] restart then runs a warm-up and
   as many iterations again for ``scaling_eff_1to4``.

The iteration counts are fixed so both sides of a comparison do the same
work; ``--seconds`` is accepted for the calling convention and recorded,
not used. The last stdout line is the result JSON; the line before it
records the host (nproc, RAM), the kernel probe and the raw timings.
``--workload all`` runs every workload in turn and prints one result line
per workload, then all of them as one JSON object. Everything is written
under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
JVM_HEAP = "1g"  # the one Spark JVM's heap, sized for a shared 4-core, 16 GB host
WORKLOAD_NAMES = ("extract_resume", "fields_curate")
LEG_ITERATIONS = 3  # at most this many iterations in the traced and local[1] legs
_EVENT_LOG = {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false"}

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "docs_per_s": "1/s",
    "peak_rss_mb": "MB",
    "out_bytes_per_in_byte": "ratio",
    "ok_run_frac": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "scaling_eff_1to4": "ratio",
    "kernels.html_docs_per_s": "1/s",
    "kernels.pdf_docs_per_s": "1/s",
    "kernels.edge_docs_per_s": "1/s",
    "kernels.big_html_mb_per_s": "MB/s",
    "extract.kernel_busy_s": "s",
    "extract.python_run_s": "s",
    "extract.python_start_s": "s",
    "extract.to_python_mb": "MB",
    "extract.from_python_mb": "MB",
    "partitioning.probe_s": "s",
    "partitioning.sampler_s": "s",
    "partitioning.shuffle_write_mb": "MB",
    "partitioning.fetch_wait_s": "s",
    "partitioning.task_skew": "ratio",
    "partitioning.bytes_skew": "ratio",
    "resume.pending_s": "s",
    "resume.committed_rows_scanned": "count",
    "resume.write_mb": "MB",
    "resume.files_written": "count",
    "resume.lineage_s": "s",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "pipeline.driver_gap_s": "s",
    "fields.process_s": "s",
    "fields.wide_s": "s",
    "fields.eav_rows": "count",
    "fields.select_rows_scored": "count",
    "fields.select_useful_ratio": "ratio",
    "fields.select_python_run_s": "s",
    "curation.funnel_s": "s",
    "curation.gate_pass_s": "s",
    "curation.minhash_s": "s",
    "curation.winnow_s": "s",
    "staging.write_mb": "MB",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "trace.overhead_s": "s",
}


def _pin_environment() -> dict[str, str]:
    """Keep every file the run writes inside the checkout and size the
    session for a shared 4-core host; returns the Spark conf every session gets."""
    for sub in ("runs", "stage", "events", "tmp"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "SPARK_DRIVER_MEMORY": JVM_HEAP,
            "OCR_SPARK_STAGE_DIR": os.path.join(WORK, "stage"),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    tempfile.tempdir = None
    return {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the heap is committed whole at start: a heap that grows as the run
        # goes moves peak memory and job time from one run to the next
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{JVM_HEAP}",
    }


def _host() -> dict:
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"nproc": os.cpu_count(), "ram_mb": total_kb // 1024}


class Sessions:
    """Starts each Spark session in a fresh JVM and ends the JVM and its
    Python workers with it; records every start time."""

    def __init__(self, conf: dict[str, str]) -> None:
        self.conf = conf
        self.start_s: list[float] = []

    def start(self, master: str, extra: dict[str, str] | None = None, record: bool = True):
        """A session in a fresh JVM; ``record`` keeps its start time as a set-up sample."""
        from ocr_platform_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            master=master, app_name=f"perfbench-{master}", extra_conf={**self.conf, **(extra or {})}
        )
        if record:
            self.start_s.append(time.perf_counter() - t0)
        return spark

    def restart(self, spark, master: str, extra: dict[str, str]):
        """A new session in the same, already warm JVM (not a set-up sample)."""
        from ocr_platform_spark.session import get_spark

        spark.stop()
        return get_spark(
            master=master, app_name=f"perfbench-{master}", extra_conf={**self.conf, **extra}
        )

    @staticmethod
    def stop(spark) -> None:
        from pyspark import SparkContext

        from perfbench.tracing import descendants

        spark.stop()
        left = set(descendants(os.getpid()))
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while left:
            left = {p for p in left if os.path.exists(f"/proc/{p}")}
            if left and time.monotonic() > deadline:
                for pid in left:
                    os.kill(pid, signal.SIGKILL)
                deadline = float("inf")
            time.sleep(0.05)


class Runner:
    """Runs a workload's iterations and counts attempts and failures."""

    def __init__(self, workload, spans) -> None:
        self.workload, self.spans = workload, spans
        self.attempted = self.failed = 0

    def iterate(self, spark, tag: str):
        self.attempted += 1
        try:
            it = self.workload.iterate(spark, self.spans, tag)
        except Exception:  # an operation failed: count it, keep measuring
            traceback.print_exc()
            self.failed += 1
            return None
        if not it.ok:
            print(f"perfbench: output check failed in iteration {tag}", file=sys.stderr)
            self.failed += 1
            return None
        return it

    def repeat(self, spark, prefix: str, count: int) -> list:
        """``count`` timed iterations; (tag, iteration, peak MB) of those that
        passed, with the process tree's peak memory during each."""
        from perfbench.tracing import PeakRss

        done = []
        for k in range(count):
            with PeakRss() as rss:
                it = self.iterate(spark, f"{prefix}{k}")
            if it is not None:
                done.append((f"{prefix}{k}", it, rss.peak_mb))
        return done


def _median_layers(iterations: list) -> dict:
    keys = {k for _tag, it, _mb in iterations for k in it.layers}
    return {k: statistics.median(it.layers.get(k, 0) for _tag, it, _mb in iterations) for k in keys}


def run(workload_name: str, seed: int, trace: bool) -> tuple[dict, dict]:
    t_start = time.perf_counter()
    timeline = {}

    def mark(label: str) -> None:
        timeline[label] = round(time.perf_counter() - t_start, 2)

    conf = _pin_environment()
    from perfbench import tracing, workloads
    from perfbench.probe import kernel_probe

    context = {"workload": workload_name, "seed": seed, "host": _host()}
    context["kernels"] = kernels = kernel_probe(seed)
    workload, plan = workloads.make(workload_name, WORK, seed)
    spans = tracing.Spans()
    runner = Runner(workload, spans)
    sessions = Sessions(conf)
    with tracing.traced_snapshot_table(spans):
        if not workload.load():  # generate the seed's inputs in a session of their own
            spark = sessions.start("local[4]", record=False)
            workload.generate(spark)
            sessions.stop(spark)
            workload.load()
        mark("prepared")
        spark = sessions.start("local[4]")
        spans.sc = spark.sparkContext
        mark("started")
        if plan.warm_up:
            runner.iterate(spark, "w")  # checked, not timed
            mark("warmed")
        timed = runner.repeat(spark, "t", plan.iterations)
        mark("timed")
        if not timed:
            raise RuntimeError("no timed iteration succeeded")
        job_s = statistics.median(it.job_s for _t, it, _mb in timed)
        context["job_s"] = [round(it.job_s, 4) for _t, it, _mb in timed]
        if trace:
            events = os.path.join(WORK, "events")
            os.makedirs(events)
            traced_conf = {**_EVENT_LOG, "spark.eventLog.dir": "file://" + events}
            if plan.warm_up:  # the JVM is warm, as for the timed iterations
                spark = sessions.restart(spark, "local[4]", traced_conf)
            else:  # a cold session, as for the timed iterations
                sessions.stop(spark)
                spark = sessions.start("local[4]", traced_conf, record=False)
            spans.sc = spark.sparkContext
            legs = min(plan.iterations, LEG_ITERATIONS)
            traced = runner.repeat(spark, "x", legs)
            mark("traced")
            if not traced:
                raise RuntimeError("no traced iteration succeeded")
            single = []
            if plan.scaling:
                spark = sessions.restart(spark, "local[1]", {"spark.eventLog.enabled": "false"})
                spans.sc = spark.sparkContext
                runner.iterate(spark, "sw")
                single = runner.repeat(spark, "s", legs)
                mark("single")
                context["local1_job_s"] = [round(it.job_s, 4) for _t, it, _mb in single]
        sessions.stop(spark)
        mark("stopped")

    if not trace:
        metrics = {
            "setup_s": sessions.start_s[0],
            "job_s": job_s,
            "docs_per_s": statistics.median(it.docs / it.job_s for _t, it, _mb in timed),
            "peak_rss_mb": statistics.median(mb for _t, _it, mb in timed),
            "out_bytes_per_in_byte": statistics.median(it.out_bytes / it.in_bytes for _t, it, _mb in timed),
            "ok_run_frac": (runner.attempted - runner.failed) / runner.attempted,
        }
        units = END_TO_END
    else:
        traced_s = {tag: it.job_s for tag, it, _mb in traced}
        log = tracing.EventLog(os.path.join(WORK, "events"))
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics.update(kernels)
        metrics.update(_median_layers(traced))
        metrics.update(tracing.engine_layers(log, workload.timed_phases, traced_s))
        select_rows = metrics.pop("fields.select_rows", 0)
        if metrics["fields.select_rows_scored"]:
            metrics["fields.select_useful_ratio"] = select_rows / metrics["fields.select_rows_scored"]
        metrics["session.start_s"] = sessions.start_s[0]
        if single:
            # against the traced local[4] iterations, which ran just before in the same warm JVM
            local4_s = statistics.median(traced_s.values())
            metrics["scaling_eff_1to4"] = statistics.median(it.job_s for _t, it, _mb in single) / (4 * local4_s)
        metrics["trace.overhead_s"] = statistics.median(traced_s.values()) - job_s
        units = PER_LAYER
    context["session_start_s"] = [round(s, 4) for s in sessions.start_s]
    context["check_s"] = round(spans.seconds("", "check"), 2)
    mark("end")
    context["timeline"] = timeline
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {name: {"value": float(metrics[name]), "unit": unit} for name, unit in units.items()},
    }
    return context, result


def run_all(args) -> int:
    """Each workload in its own process (a fresh JVM per session)."""
    results = {}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed)]
        cmd += ["--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            print(f"perfbench: workload {name} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode
        results[name] = json.loads(proc.stdout.strip().splitlines()[-1])
        print(json.dumps({name: results[name]}), flush=True)
    print(json.dumps(results))
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    parser.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, default=10)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ocr_platform_spark")):
        print(f"perfbench: no ocr_platform_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    context, result = run(args.workload, args.seed, bool(args.trace))
    context["seconds"] = args.seconds
    print(json.dumps(context))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

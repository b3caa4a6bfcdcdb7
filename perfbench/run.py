"""End-to-end benchmark of the architxt_spark engine.

    python3 perfbench/run.py --workload crawl_curate --seed 1 --seconds 15 --trace 0

One run is one process: generate (or reuse) the seeded inputs, start the
library's own Spark session, run one warm-up job over a quarter of the
inputs, and then complete jobs back to back for ``--seconds`` seconds (closed
loop, one client, at least one job), checking every job's output.
``text_scan`` runs on request; BENCHMARK.json does not list it.  The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the lines before it are the readable report.  The exit code is
1 when any output check failed.

``--trace 1`` runs the same jobs traced and reports the per-layer metrics
instead (see README.md).  ``--workload all`` runs every workload, each in its
own process, and prints each report.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: The workloads BENCHMARK.json lists, in its order.  ``text_scan`` runs on
#: request: the budget of the benchmark's runs holds two workloads (see
#: README.md, "Run shape"), and its layers are traced on ``crawl_curate``.
WORKLOADS = ["crawl_curate", "structure"]
ALL_WORKLOADS = WORKLOADS + ["text_scan"]

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "rows_per_s": "rows/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}
#: Printed in the report but not in the JSON: both are exactly 0 on some
#: workload (``text_scan`` writes nothing; a healthy run fails nothing), and
#: the JSON's ``attempted``/``failed`` already carry the failure ratio.
REPORT_ONLY = {"write_amp": "ratio", "fail_ratio": "ratio"}

#: Layers each workload's traced run reports.  A traced ``crawl_curate`` run
#: also runs ``text_scan``'s traced job over the crawl's documents as parquet.
LAYERS = {
    "crawl_curate": ["sources.warc", "functions.curation", "sinks.corpus", "scan",
                     "functions.text"],
    "structure": ["operators.engine", "plans.schema", "sinks.sql"],
    "text_scan": ["scan", "functions.text"],
}


def per_layer_units(workloads) -> dict[str, str]:
    """Every per-layer metric the traced runs of ``workloads`` report."""
    from spans import LAYER_METRICS
    from workloads import TEXT_SIGNALS

    out = {}
    for w in workloads:
        for layer in LAYERS[w]:
            for m, unit in LAYER_METRICS.items():
                out.setdefault(f"{layer}.{m}", unit)
        if "functions.text" in LAYERS[w]:
            for s in TEXT_SIGNALS:
                out[f"functions.text.{s}.wall_s"] = "s"
        if w == "structure":
            for s in ("reduce", "cluster", "probe"):
                out[f"operators.engine.{s}.wall_s"] = "s"
            out["operators.engine.iterations"] = "count"
            out["operators.engine.probe_yield"] = "ratio"
    out["session.persisted_rdds"] = "count"
    out["session.failed_tasks"] = "count"
    out["trace.overhead_s"] = "s"
    return out


def _env(trace: bool) -> None:
    """Configure the Spark session ``get_spark`` builds: every core, all
    scratch space inside the checkout, and the event log when tracing."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1536m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
        + " pyspark-shell"
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _clear(spark) -> int:
    """Persisted RDDs left after a job; then drop them all, so no later job
    is served from a frame an earlier job left cached."""
    jsc = spark.sparkContext._jsc
    n = len(jsc.getPersistentRDDs())
    spark.catalog.clearCache()
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    return n


def _program_digest() -> str:
    """sha256 of the library's sources and the benchmark's job definitions."""
    h = hashlib.sha256()
    files = glob.glob(os.path.join(ROOT, "architxt_spark", "**", "*.py"), recursive=True)
    for path in sorted(files) + [os.path.join(HERE, "workloads.py")]:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


class Reference:
    """What the first run of this (workload, seed, size) and this program
    left in the checkout: its first job's checked output, which every later
    job must equal."""

    def __init__(self, workload: str, seed: int, size: int) -> None:
        self.path = os.path.join(
            WORK, "ref", f"{workload}-s{seed}-n{size}-{_program_digest()[:16]}.json"
        )
        try:
            with open(self.path) as f:
                self.data = json.load(f)
        except FileNotFoundError:
            self.data = {}

    def get(self, key: str):
        return self.data.get(key)

    def set(self, key: str, value) -> None:
        self.data[key] = value
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path + ".tmp", "w") as f:
            json.dump(self.data, f)
        os.replace(self.path + ".tmp", self.path)


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    sys.path.insert(0, ROOT)
    import architxt_spark  # noqa: F401 — fail before generating any input
    import checks
    import inputs
    import spans as tr

    size = inputs.SIZES[workload]
    t = time.perf_counter()
    data = inputs.ensure_inputs(workload, seed, size)
    ref = Reference(workload, seed, size)
    profile = profile_tracer = None
    if trace and workload == "crawl_curate":
        profile = inputs.ensure_inputs("text_scan", seed, size)
    gen_s = time.perf_counter() - t  # not set-up: made once per seed and checkout
    in_bytes = inputs.input_bytes(data)

    _env(trace)
    import workloads
    from architxt_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{workload}")
    spark.sparkContext.setLogLevel("ERROR")

    out_root = os.path.join(WORK, "out")
    shutil.rmtree(out_root, ignore_errors=True)
    n_job = 0

    def one_job(tracer=workloads.NO_TRACE, src=data, n=size):
        nonlocal n_job
        out = os.path.join(out_root, f"job{n_job}")
        n_job += 1
        os.makedirs(out)
        if workload == "crawl_curate":
            workloads.crawl_curate(spark, src, out, n, tracer)
        else:
            workloads.JOBS[workload](spark, src, out, tracer)
        return out

    def read_and_check(out):
        if workload == "crawl_curate":
            # JSON round trip: the reference is compared as it is stored
            got = json.loads(json.dumps(checks.read_crawl(out)))
            checks.check_crawl(got, ref.get("output"), size)
            if ref.get("output") is None:
                ref.set("output", got)
        elif workload == "structure":
            checks.check_structure(checks.read_structure(out), size)

    proc = tr.ProcTree()
    attempted = failed = 0
    walls, cpus, writes, persisted, errors = [], [], [], [], []

    # the same plans compiled and their code warmed, at a quarter of a
    # full job's data: a timed job is not the JVM's first
    src, n = inputs.warm_up_input(workload, data, size, os.path.join(WORK, "warm-up"))
    one_job(src=src, n=n)
    _clear(spark)
    shutil.rmtree(out_root, ignore_errors=True)
    setup_s = time.perf_counter() - T0 - gen_s
    proc.sample()

    def timed_job(job_tracer) -> tuple[float, float, int] | None:
        """One job, timed and checked: ``(wall_s, cpu_s, bytes_written)``,
        or None when it raised or failed its check."""
        nonlocal attempted, failed
        attempted += 1
        cpu0, wrote0 = proc.sample()
        t = time.perf_counter()
        try:
            out = one_job(job_tracer)
            wall = time.perf_counter() - t
            cpu1, wrote1 = proc.sample()
            if job_tracer.traced:
                job_tracer.end_job()
            read_and_check(out)
        except Exception as e:  # noqa: BLE001 — a failed job is counted, not fatal
            traceback.print_exc()
            failed += 1
            errors.append(f"{type(e).__name__}: {e}"[:300])
            result = None
        else:
            result = (wall, cpu1 - cpu0, wrote1 - wrote0)
        persisted.append(_clear(spark))
        shutil.rmtree(out_root, ignore_errors=True)
        return result

    tracer = tr.Tracer(spark) if trace else workloads.NO_TRACE
    # trace.overhead_s is taken against one untraced job of the same seed,
    # run first in the same session, so both share the host's speed
    baseline = timed_job(workloads.NO_TRACE) if trace else None
    t_loop = time.perf_counter()
    n_timed = 0
    while True:
        result = timed_job(tracer)
        n_timed += 1
        if result is not None:
            walls.append(result[0])
            cpus.append(result[1])
            writes.append(result[2])
        # start another job only if it should end inside the window, so
        # the number of jobs in a run does not flip with small speed changes
        elapsed = time.perf_counter() - t_loop
        if elapsed * (n_timed + 1) / n_timed > seconds:
            break

    if profile is not None:
        # the crawl's documents as parquet, through text_scan's traced job,
        # outside the crawl jobs' timing
        out = os.path.join(out_root, "profile")
        os.makedirs(out)
        profile_tracer = tr.Tracer(spark)
        workloads.text_scan(spark, profile, out, profile_tracer)
        profile_tracer.end_job()
        shutil.rmtree(out_root, ignore_errors=True)
    if workload == "text_scan" or profile is not None:
        # once per run, outside the timed jobs: every job forced this same
        # projection into noop, so a wrong projection fails every job
        try:
            checks.check_text(spark, profile or data, seed)
        except Exception as e:  # noqa: BLE001
            traceback.print_exc()
            failed = attempted
            errors.append(f"{type(e).__name__}: {e}"[:300])

    proc.sample()
    _stop(spark)
    stamp = tr.host_stamp()

    med = statistics.median
    rows = size if workload != "structure" else size * (
        len(inputs.F4_GROUPS) + len(inputs.F4_RELATIONS)
    )
    report = {"setup_s": setup_s}
    if walls:
        report.update({
            "job_s": med(walls),
            "rows_per_s": rows / med(walls),
            "cpu_s": med(cpus),
            "write_amp": med(writes) / in_bytes,
        })
    report["peak_rss_mb"] = proc.peak_rss_mb()
    report["fail_ratio"] = failed / attempted

    print(f"# workload {workload}  seed {seed}  input {rows} rows, {in_bytes} bytes"
          f"  jobs {attempted} ({failed} failed)  trace {int(trace)}")
    print(f"# host {json.dumps(stamp)}  inputs {gen_s:.2f} s")
    print(f"# timed job walls (s): {' '.join(f'{w:.3f}' for w in walls)}")
    for e in errors:
        print(f"# error: {e}")

    if not trace:
        units = {**END_TO_END, **REPORT_ONLY}
        for name, unit in units.items():
            if name in report:
                extra = f"  (median of {len(walls)} jobs)" if name in ("job_s", "cpu_s") else ""
                print(f"{name:>14} {report[name]:14.4f} {unit}{extra}")
        metrics = {k: {"value": report[k], "unit": u} for k, u in END_TO_END.items()
                   if k in report}
    else:
        log_dir = os.path.join(WORK, "eventlog")
        (log,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        jobs, totals = tr.read_event_log(log)
        tracers = [t for t in (tracer, profile_tracer) if t is not None]
        layer = tr.attribute([s for t in tracers for s in t.spans], jobs, totals)
        for t in tracers:
            for name, vals in t.counters.items():
                layer[name] = sum(vals) / max(1, t.job)  # per traced job
        if "operators.engine.trees_probed" in layer:
            layer["operators.engine.probe_yield"] = (
                layer.pop("operators.engine.trees_changed")
                / layer.pop("operators.engine.trees_probed")
            )
        layer["session.persisted_rdds"] = max(persisted)
        if walls and baseline is not None:
            layer["trace.overhead_s"] = report["job_s"] - baseline[0]
            print(f"# traced job {report['job_s']:.4f} s, untraced {baseline[0]:.4f} s")
        print(f"# {'layer metric':<40} {'value':>12}  unit")
        metrics = {}
        listed = WORKLOADS if workload in WORKLOADS else [workload]
        for name, unit in per_layer_units(listed).items():
            metrics[name] = {"value": layer.get(name, 0), "unit": unit}
            print(f"# {name:<40} {metrics[name]['value']:12.4f}  {unit}")
        shutil.rmtree(log_dir, ignore_errors=True)

    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in its own process; non-zero if any run failed."""
    status = 0
    for w in ALL_WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        print(res.stdout, end="", flush=True)
        status = status or res.returncode
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=ALL_WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, HERE)
    return run(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())

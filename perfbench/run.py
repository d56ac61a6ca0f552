"""Closed-loop benchmark of the log scan, log ingest and corpus-dedup paths.

    python3 perfbench/run.py --workload log_scan --seed 1 --seconds 15 --trace 0

One process, one client, ``local[n]`` with n = min(nproc, 4).  The run
generates the seed's inputs (outside any timing), sets up a session, times
the first job on its own (``cold_job_s``), then runs jobs back to back for
``--seconds`` and checks every job's output against the
generator's truth.  The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
The lines before it state every metric by name with its unit.

Everything the run writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import spans

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "drill_logfile_plugin_spark"

#: name -> (unit, better); the end-to-end metrics.  The last three are
#: printed only for the workload they apply to and are not in
#: BENCHMARK.json, which wants every metric on every workload.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "cold_job_s": ("s", "lower"),
    "job_p50_s": ("s", "lower"),
    "job_tail_s": ("s", "lower"),
    "records_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
    "fail_ratio": ("1", "lower"),
    "stored_bytes_per_input_byte": ("1", "lower"),
    "dedup_recall": ("1", "higher"),
    "ann_recall_at_k": ("1", "higher"),
}

#: name -> (unit, better, what it should move).  Metrics of a layer that
#: does no work in a workload read 0 there.
PER_LAYER = {
    "config.validate_s": ("s", "lower", "cold_job_s, job_p50_s on log_scan"),
    "log_reader.plan_s": ("s", "lower", "cold_job_s, job_p50_s on log_scan"),
    "log_reader.exec_s": ("s", "lower", "job_p50_s, records_per_s on log_scan"),
    "log_reader.task_cpu_s": ("s", "lower", "job_p50_s, records_per_s on log_scan"),
    "log_reader.tasks": ("count", "higher", "job_p50_s on log_scan; on log_ingest via the gzip files"),
    "log_reader.lines_in": ("count", "higher", "exact; rows_out / lines_in is the useful-work share"),
    "log_reader.rows_out": ("count", "higher", "exact; rows_out / lines_in is the useful-work share"),
    "log_reader.unmatched_rows": ("count", "lower", "exact; the wasted share of rows_out"),
    "log_reader.strict_exec_s": ("s", "lower", "job_p50_s on log_ingest"),
    "log_reader.gz_exec_s": ("s", "lower", "job_p50_s on log_ingest"),
    "log_datasource.exec_s": ("s", "lower", "job_p50_s on log_ingest"),
    "log_datasource.partitions": ("count", "higher", "job_p50_s on log_ingest"),
    "redact.exec_s": ("s", "lower", "job_p50_s on log_ingest"),
    "templates.exec_s": ("s", "lower", "job_p50_s on log_ingest"),
    "templates.n_templates": ("count", "higher", "job_p50_s on log_ingest"),
    "windows.exec_s": ("s", "lower", "job_p50_s on log_ingest"),
    "windows.groups_out": ("count", "higher", "job_p50_s on log_ingest"),
    "sinks.write_s": ("s", "lower", "job_p50_s, stored_bytes_per_input_byte on log_ingest"),
    "sinks.bytes_written": ("bytes", "lower", "job_p50_s, stored_bytes_per_input_byte on log_ingest"),
    "sinks.files_written": ("count", "lower", "job_p50_s, stored_bytes_per_input_byte on log_ingest"),
    "pipeline.plan_s": ("s", "lower", "job_p50_s on corpus_dedup"),
    "pipeline.exec_s": ("s", "lower", "job_p50_s on corpus_dedup"),
    "versioning.exec_s": ("s", "lower", "job_p50_s on corpus_dedup"),
    "text.exec_s": ("s", "lower", "job_p50_s on corpus_dedup"),
    "chunking.exec_s": ("s", "lower", "job_p50_s on corpus_dedup"),
    "dedup.exec_s": ("s", "lower", "job_p50_s on corpus_dedup"),
    "dedup.candidate_pairs": ("count", "lower", "job_p50_s, dedup_recall on corpus_dedup"),
    "dedup.pair_yield": ("1", "higher", "job_p50_s, dedup_recall on corpus_dedup"),
    "similarity.exec_s": ("s", "lower", "job_p50_s on corpus_dedup"),
    "similarity.candidates_per_query": ("count", "lower", "job_p50_s, ann_recall_at_k on corpus_dedup"),
    "similarity.candidate_yield": ("1", "higher", "job_p50_s, ann_recall_at_k on corpus_dedup"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "job_p50_s on corpus_dedup and log_ingest"),
    "spark.shuffle_read_bytes": ("bytes", "lower", "job_p50_s on corpus_dedup and log_ingest"),
    "spark.spill_bytes": ("bytes", "lower", "job_p50_s on corpus_dedup and log_ingest"),
    "spark.gc_s": ("s", "lower", "job_tail_s on every workload"),
    "spark.scheduler_delay_s": ("s", "lower", "job_tail_s on every workload"),
    "spark.task_failures": ("count", "lower", "fail_ratio on every workload"),
    "spark.stages": ("count", "lower", "job_p50_s on every workload"),
    "trace.overhead_s": ("s", "lower", "job_p50_s traced minus untraced, same process"),
}

#: Setups measured per run (this process and SETUPS - 1 probe processes
#: started at the same moment); setup_s is their median.
SETUPS = 2
#: A tail percentile needs this many warm samples beyond it.
TAIL_BEYOND = 10


def parallelism() -> int:
    return max(1, min(os.cpu_count() or 1, len(os.sched_getaffinity(0)), 4))


def prepare_env(work: str) -> None:
    """Point Spark, its Python workers and temp files at the checkout."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def build_session(work: str, event_dir: str | None = None):
    """SparkSession + ``configure_session`` + ``format("log")`` registration:
    the set-up a user pays before the first job."""
    from pyspark.sql import SparkSession

    n = parallelism()
    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.executor.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    )
    if event_dir is not None:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_dir)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from drill_logfile_plugin_spark import register_log_datasource
    from drill_logfile_plugin_spark.sources.tables import configure_session

    configure_session(spark, shuffle_partitions=n)
    register_log_datasource(spark)
    return spark


def inputs_for(workload: str, seed: int, tiny: bool, work: str) -> tuple[str, dict]:
    """Generate (or reuse) the seed's inputs; return their dir and truth."""
    import gen

    with open(gen.__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:12]
    base = os.path.join(work, "inputs", workload)
    path = os.path.join(base, f"{version}-{'tiny' if tiny else 'full'}-{seed}")
    truth_file = os.path.join(path, "truth.json")
    if not os.path.exists(truth_file):
        if os.path.isdir(base):
            shutil.rmtree(base)  # one seed's inputs at a time bounds disk use
        tmp = path + ".partial"
        gen.generate(workload, seed, tmp, tiny=tiny)
        os.rename(tmp, path)
    with open(truth_file) as fh:
        return path, json.load(fh)


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with TAIL_BEYOND
    samples beyond it; the median when that percentile would lie below it."""
    xs = sorted(latencies)
    at = len(xs) - TAIL_BEYOND
    if at <= len(xs) // 2:
        return statistics.median(xs), 50.0
    return xs[at - 1], 100.0 * at / len(xs)


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    # Python workers outlive the JVM by a moment
    deadline = time.monotonic() + 30
    while spans.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def run_all(args) -> int:
    """Run every workload in turn, each in its own process."""
    results = {}
    for w in ("log_scan", "log_ingest", "corpus_dedup"):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        if args.tiny:
            cmd.append("--tiny")
        if args.work:
            cmd += ["--work", args.work]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        print(out.stdout, end="")
        if out.returncode != 0:
            return out.returncode
        results[w] = json.loads(out.stdout.strip().splitlines()[-1])
    print(json.dumps({"workloads": results}))
    return 0


def start_probes() -> list[subprocess.Popen]:
    return [
        subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--setup-probe"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        for _ in range(SETUPS - 1)
    ]


def finish_probes(probes: list[subprocess.Popen]) -> list[float]:
    out = []
    for p in probes:
        try:
            stdout, _ = p.communicate(timeout=150)
        finally:
            p.kill()
            p.wait()
        if p.returncode != 0:
            raise RuntimeError("set-up probe failed")
        out.append(json.loads(stdout.strip().splitlines()[-1])["setup_s"])
    return out


def run_job(fn, i: int, log: list[str]):
    """One job: (seconds, JobResult or None).  A job that raises or
    returns a wrong result is a failure; it is never retried."""
    t0 = time.perf_counter()
    try:
        res = fn(i)
    except Exception:
        log.append(traceback.format_exc(limit=3))
        return time.perf_counter() - t0, None
    dt = time.perf_counter() - t0
    if res.problems:
        log.extend(res.problems)
    return dt, res


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench")
    ap.add_argument("--workload", choices=("log_scan", "log_ingest", "corpus_dedup", "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs, for the self-tests")
    ap.add_argument("--work", default=None, help="scratch directory (default perfbench/.work)")
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found beside perfbench/", file=sys.stderr)
        return 2
    work = os.path.abspath(args.work or os.path.join(HERE, ".work"))
    prepare_env(work)
    if args.setup_probe:
        spark = build_session(work)
        print(json.dumps({"setup_s": time.perf_counter() - T_START}))
        stop_session(spark)
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if args.workload == "all":
        return run_all(args)
    t = time.perf_counter()
    import pyspark.sql  # noqa: F401  (importing it is part of set-up)

    import_s = time.perf_counter() - t
    import workloads  # imports the package, so only after prepare_env

    inputs, truth = inputs_for(args.workload, args.seed, args.tiny, work)

    event_dir = None
    probes: list[subprocess.Popen] = []
    if args.trace:
        event_dir = os.path.join(work, "events")
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
    else:
        probes = start_probes()
    try:
        t0 = time.perf_counter()
        spark = build_session(work, event_dir)
        setups = [time.perf_counter() - t0 + import_s]
    finally:
        setups += finish_probes(probes)

    log: list[str] = []
    try:
        wl = workloads.WORKLOADS[args.workload](spark, inputs, truth, work)
        with spans.RssSampler() as rss:
            result = measure(wl, args, spark, log)
    finally:
        stop_session(spark)
    for line in log[:20]:
        print(f"problem: {line}", file=sys.stderr)

    attempted, failed = result["attempted"], result["failed"]
    if args.trace:
        metrics = layer_metrics(result, spans.attribute(event_dir))
        table = PER_LAYER
    else:
        lat = result["latencies"]
        value, pct = tail(lat) if lat else (0.0, 0.0)
        metrics = {
            "setup_s": statistics.median(setups),
            "cold_job_s": result["cold_s"],
            "job_p50_s": statistics.median(lat) if lat else 0.0,
            "job_tail_s": value,
            "records_per_s": result["records"] / sum(lat) if lat else 0.0,
            "peak_rss_mb": rss.peak / 2**20,
            "fail_ratio": failed / attempted,
        }
        for q in ("stored_bytes_per_input_byte", "dedup_recall", "ann_recall_at_k"):
            if result["quality"].get(q):
                metrics[q] = statistics.median(result["quality"][q])
        warm = result["warmup_s"]
        print(f"job_tail_s is p{pct:.1f} of {len(lat)} warm jobs "
              f"({TAIL_BEYOND} beyond it, or the median); first warm job "
              f"{'in them' if warm is None else f'left out: {warm:.3f} s'}; "
              f"setups: {[round(s, 3) for s in setups]}")
        table = END_TO_END
    for name, value in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {table[name][0]}")
    listed = listed_metrics(args.trace)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": table[k][0]} for k in listed},
    }))
    return 0


def listed_metrics(trace: int) -> list[str]:
    """The metric names BENCHMARK.json lists for this mode, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]


def measure(wl, args, spark, log) -> dict:
    """The cold job, then the timed closed loop.

    The cold job pays the process's one-time costs (JIT, first planning,
    Python worker start) and is reported on its own.  The first job after
    it still warms up (it ran about 60 % slower on ``log_ingest``), so it
    is left out of the statistics whenever the window holds later jobs.
    A ``corpus_dedup`` job outlasts the window, and the time budget of a
    full benchmark pass (4 + 22 runs per listed workload in 3420 s) leaves
    no room for a whole extra job there; its one timed job is then that
    first one."""
    res = {"attempted": 0, "failed": 0, "latencies": [], "records": 0,
           "quality": {}, "layers": [], "traced_s": [], "first_record": None,
           "warmup_s": None}
    tr = spans.Tracer(spark.sparkContext) if args.trace else None
    i = 0

    def one(timed: bool):
        nonlocal i
        # a traced run alternates traced and plain jobs in its window
        traced = tr is not None and timed and len(res["layers"]) <= len(res["latencies"])
        if traced:
            tr.job_id = i
            layers = {}

            def fn(k):
                r, lv = wl.run_traced(k, tr)
                layers.update(lv)
                return r
        else:
            fn = wl.run
        dt, r = run_job(fn, i, log)
        i += 1
        res["attempted"] += 1
        if r is None or r.problems:
            res["failed"] += 1
            return dt
        for k, v in r.quality.items():
            res["quality"].setdefault(k, []).append(v)
        if timed:
            if traced:
                res["layers"].append(layers)
                res["traced_s"].append(tr.of("job")[-1].seconds)
            else:
                if not res["latencies"]:
                    res["first_record"] = r.records
                res["latencies"].append(dt)
                res["records"] += r.records
        return dt

    res["cold_s"] = one(timed=False)
    end = time.perf_counter() + args.seconds
    while time.perf_counter() < end or (
        tr is not None and not (res["layers"] and res["latencies"])
    ):
        one(timed=True)
    first = res.pop("first_record")
    if first is not None and len(res["latencies"]) > 1:
        res["warmup_s"] = res["latencies"].pop(0)
        res["records"] -= first
    return res


def layer_metrics(res: dict, tasks: dict) -> dict:
    """Per-layer metrics of a traced run: medians of the per-job times,
    means of the per-job counts, task metrics summed per span."""
    jobs = res["layers"]
    out = {name: 0.0 for name in PER_LAYER}
    for name in PER_LAYER:
        vals = [j[name] for j in jobs if name in j]
        if vals:
            out[name] = (statistics.median(vals) if PER_LAYER[name][0] == "s"
                         else statistics.fmean(vals))

    def totals(groups):
        """Task totals of the spans whose job groups are ``groups``."""
        groups = groups if isinstance(groups, list) else [groups]
        return [tasks[g] for g in groups if g in tasks]

    scan = [totals(j["@log_reader.exec"]) for j in jobs if "@log_reader.exec" in j]
    if scan:
        out["log_reader.task_cpu_s"] = statistics.median(sum(t.cpu_s for t in s) for s in scan)
        split = [totals(j["@log_reader.tasks"]) for j in jobs]
        out["log_reader.tasks"] = statistics.fmean(sum(t.tasks for t in s) for s in split)
    ds = [totals(j["@log_datasource"]) for j in jobs if "@log_datasource" in j]
    if ds:
        out["log_datasource.partitions"] = statistics.fmean(sum(t.tasks for t in s) for s in ds)
    whole = [totals(j["@job"]) for j in jobs]
    for key, attr in (("spark.shuffle_write_bytes", "shuffle_write_bytes"),
                      ("spark.shuffle_read_bytes", "shuffle_read_bytes"),
                      ("spark.spill_bytes", "spill_bytes"),
                      ("spark.gc_s", "gc_s"),
                      ("spark.scheduler_delay_s", "scheduler_delay_s"),
                      ("spark.stages", "stages")):
        out[key] = statistics.fmean(sum(getattr(t, attr) for t in s) for s in whole)
    out["spark.task_failures"] = sum(t.failures for t in tasks.values())
    if res["traced_s"] and res["latencies"]:
        out["trace.overhead_s"] = statistics.median(res["traced_s"]) - statistics.median(res["latencies"])
    return out


if __name__ == "__main__":
    sys.exit(main())

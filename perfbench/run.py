"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload rewrite_narrow --seed 1 \\
        --seconds 6 --trace 0

Each workload runs as a closed loop with one client: a single driver
process on ``local[$SPARK_GRAFT_CPUS]`` submits the next job only after the
previous one has finished. The run generates the workload's inputs from
``--seed``, times the first job, runs the workload's count of untimed
warm-up jobs, times warm jobs for ``--seconds``, checks every output, and
prints every metric by name and unit. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). The exit code is non-zero when any job fails or any output
check fails.

``--trace 1`` first repeats the untraced loop, then restarts the Spark
context with the event log on and runs each layer's probe and the job as
spans (see ``spans.py``); the traced job's median minus the untraced one is
reported as ``trace.overhead_s``.

Metric names and units come from ``BENCHMARK.json`` at the repository
root. All files go under ``.perfbench/`` in the working directory; a full record
of each run (environment, input manifest, samples, spans) is written to
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
#: fewest timed jobs, so that ``job_s`` is a median of at least three
TIMED_JOBS = 3
#: probe + traced-job rounds in a traced run; a round costs 4-15 s, and
#: the run budget in README.md has room for two
TRACE_ROUNDS = 2
#: stop starting jobs once the run is this old, to end well within 180 s
RUN_DEADLINE_S = 140.0

def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """CPU time the host took from this machine so far (all CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def effective_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def prepare_env(root: str, work: str) -> None:
    """Environment for the driver, the JVM and Spark's Python workers: the
    repository root on PYTHONPATH (workers launched outside it cannot import
    the package otherwise) and every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(effective_cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join((
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ))


def setup():
    """The user's set-up: a session from ``session.get_spark`` with the
    SSTable source registered. Returns the session and the set-up time,
    counted from process start."""
    from cassandra_ttl_remover_spark.session import get_spark
    from cassandra_ttl_remover_spark.sources.sstable import (
        register_sstable_source,
    )

    spark = get_spark("perfbench")
    register_sstable_source(spark)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, process_age()


def shutdown() -> None:
    """Stop the active context, end the JVM and wait for every process
    under this one (safe to call twice)."""
    import spans
    from pyspark import SparkContext

    procs = [p for p in spans.process_tree() if p != os.getpid()]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.05)


class Loop:
    """Runs jobs back to back and checks every output afterwards, so no
    check runs between timed jobs. An output byte-identical to an already
    verified one passes by file checksums; any other gets the full check."""

    def __init__(self, spark, wl, in_dir: str, manifest: dict,
                 work: str) -> None:
        self.spark, self.wl = spark, wl
        self.in_dir, self.manifest, self.work = in_dir, manifest, work
        self.verified: list[int] | None = None
        self.pending: list[tuple[str, dict]] = []
        self.attempted = self.failed = self.full_checks = 0
        self.check_s = 0.0
        self.errors: list[str] = []

    def job(self, tracer=None) -> dict:
        """Run one job, as a span when ``tracer`` is given; returns its
        record (``ok``, ``dur`` and, once checked, the output size)."""
        out = os.path.join(self.work, f"out-{self.attempted:03d}")
        self.attempted += 1
        ctx = tracer.span("job") if tracer else contextlib.nullcontext({})
        with ctx as rec:
            ok = True
            t0 = time.perf_counter()
            try:
                self.wl.run_job(self.spark, self.in_dir, out, self.manifest)
            except Exception as e:  # noqa: BLE001 — a failed job is counted
                ok = False
                self.errors.append(f"job failed: {type(e).__name__}: {e}")
            dur = time.perf_counter() - t0
        rec.update(ok=ok, dur=dur)
        self.pending.append((out, rec))
        return rec

    def check_pending(self) -> None:
        """Check and delete every output produced since the last call."""
        import gen

        t0 = time.perf_counter()
        for out, rec in self.pending:
            if rec["ok"]:
                files = gen.file_crcs(out)
                rec["out_bytes"] = sum(n for _, n, _ in files)
                rec["out_files"] = len(files)
                fails = self._check(out, sorted(c for _, _, c in files))
                if fails:
                    rec["ok"] = False
                    self.errors.extend(fails)
            if not rec["ok"]:
                self.failed += 1
            shutil.rmtree(out, ignore_errors=True)
        self.pending = []
        self.check_s += time.perf_counter() - t0

    def _check(self, out: str, crcs: list[int]) -> list[str]:
        if crcs == self.verified:
            return []
        self.full_checks += 1
        try:
            fails = self.wl.check(self.spark, out, self.manifest)
        except Exception as e:  # noqa: BLE001 — e.g. an undecodable output
            fails = [f"check failed: {type(e).__name__}: {e}"]
        if not fails and self.verified is None:
            self.verified = crcs
        return fails

    def warm(self, seconds: float, jobs: int = 1) -> list[dict]:
        """Warm jobs until there are ``jobs`` of them and their summed run
        time reaches ``seconds``; stops early at a failed job."""
        recs: list[dict] = []
        while not recs or ((len(recs) < jobs
                            or sum(r["dur"] for r in recs) < seconds)
                           and recs[-1]["ok"]
                           and process_age() < RUN_DEADLINE_S):
            recs.append(self.job())
        return recs


def _median_ok(recs: list[dict]) -> float:
    good = [r["dur"] for r in recs if r["ok"]] or [r["dur"] for r in recs]
    return statistics.median(good)


def run(args, root: str) -> int:
    import pyarrow
    import pyspark

    import spans
    from workloads import WORKLOADS

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)
    units = {m["name"]: m["unit"] for m in
             declared["per_layer" if args.trace else "end_to_end"]}
    wl = WORKLOADS[args.workload]
    work = os.path.join(root, ".perfbench",
                        f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(root, work)
    load_before = os.getloadavg()
    steal_before = steal_seconds()
    in_dir = os.path.join(work, "input")
    events = os.path.join(work, "events")

    spark, setup_s = setup()
    try:
        t0 = time.perf_counter()
        manifest = wl.generate(random.Random(args.seed), in_dir)
        gen_s = time.perf_counter() - t0

        loop = Loop(spark, wl, in_dir, manifest, work)
        first = loop.job()
        # the slow part of the expected output (curate_corpus's DuckDB
        # oracle) is built while the untimed warm-up jobs run
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            expected = pool.submit(wl.expect, manifest)
            warmup = loop.warm(0, wl.warmup_jobs)  # the JIT settles
            manifest.update(expected.result())
        warm = loop.warm(args.seconds, TIMED_JOBS)
        peak_rss = spans.peak_rss_mb(spans.process_tree())
        loop.check_pending()
        if args.trace:
            loop.spark = spark = restart_with_event_log(spark, events)
            loop.job()  # warms the new context; checked, not timed
            tracer = spans.Tracer(spark)
            rounds = [(wl.probes(spark, tracer, in_dir, manifest),
                       loop.job(tracer)) for _ in range(TRACE_ROUNDS)]
            loop.check_pending()
    finally:
        shutdown()

    job_s = _median_ok(warm)
    record: dict = {"warmup_job_s": [r["dur"] for r in warmup],
                    "warm_job_s": [r["dur"] for r in warm]}
    if args.trace:
        tracer.attach_event_log(events)
        per_round = []
        for probes, job in rounds:
            m = dict(wl.layer_metrics(probes, job, manifest))
            m.update({f"spark.{k}": v for k, v in job["spark"].items()})
            m["spark.jvm_cpu_s"] = job["jvm_cpu_s"]
            m["trace.job_s"] = job["dur"]
            per_round.append(m)
        metrics = {k: statistics.median(m.get(k, 0) for m in per_round)
                   for k in units}
        metrics["session.start_s"] = setup_s
        metrics["trace.overhead_s"] = metrics["trace.job_s"] - job_s
        record["spans"] = tracer.spans
    else:
        out_bytes = next(
            (r["out_bytes"] for r in [first] + warm if r["ok"]), 0)
        metrics = {
            "setup_s": setup_s,
            "first_job_s": first["dur"],
            "job_s": job_s,
            "write_amplification": out_bytes / manifest["input"]["bytes"],
            "peak_rss_mb": peak_rss,
        }

    env = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "spark_graft_cpus": effective_cpus(),
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "cpu_steal_s": steal_seconds() - steal_before,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0], "generate_s": gen_s,
        "input_bytes": manifest["input"]["bytes"],
        "input_rows": wl.input_rows(manifest),
        "warm_jobs": len(warm), "full_checks": loop.full_checks,
        "check_s": loop.check_s, "run_s": process_age(),
    }
    record.update(env=env, manifest={k: v for k, v in manifest.items()
                                     if k != "oracle"},
                  metrics=metrics, errors=loop.errors)
    results = os.path.join(root, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, os.path.basename(work) + ".json"),
              "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    print("env " + json.dumps(env))
    for err in loop.errors:
        print(f"error {err}")
    print(f"error_rate {loop.failed / loop.attempted:.4f} "
          f"({loop.failed}/{loop.attempted} jobs)")
    print(f"job_s samples {len(warm)}")
    print(f"rows_per_s {wl.input_rows(manifest) / job_s:.6g} 1/s "
          f"({wl.input_rows(manifest)} input rows / job_s)")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    correct = loop.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


def restart_with_event_log(spark, log_dir: str):
    """Stop the context and set up again in the same JVM with an
    uncompressed, non-rolling event log (static confs, so they go in as JVM
    system properties, which a new SparkConf loads)."""
    from pyspark import SparkContext

    spark.stop()
    os.makedirs(log_dir, exist_ok=True)
    system = SparkContext._jvm.java.lang.System
    for k, v in {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + log_dir,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}.items():
        system.setProperty(k, v)
    return setup()[0]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=6)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(
            root, "cassandra_ttl_remover_spark", "__init__.py")):
        print("error: run from the repository root (no "
              "cassandra_ttl_remover_spark package here)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {sorted(WORKLOADS)}")
    return run(args, root)


if __name__ == "__main__":
    sys.exit(main())
